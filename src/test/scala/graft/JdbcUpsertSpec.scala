package graft

import java.sql.{DriverManager, SQLException, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.Clean
import graft.schema.RawReview
import graft.streaming.JdbcUpsertSink

/** Simulates a driver that answers executeBatch with SUCCESS_NO_INFO (-2)
  * for every statement (Oracle; MySQL w/ rewriteBatchedStatements): the
  * sink must re-probe per row instead of treating every key as updated.
  * Top-level class: the foreachPartition closure serializes the sink, and
  * an anonymous subclass would drag the spec instance along.
  */
private[graft] class NoInfoSink(url: String, table: String, key: String,
    updateCols: Seq[String])
    extends JdbcUpsertSink(url, table, key, updateCols) {
  override protected def updateBatchCounts(
      upd: java.sql.PreparedStatement): Array[Int] =
    upd.executeBatch().map(_ => java.sql.Statement.SUCCESS_NO_INFO)
}

/** Injects a concurrent writer exactly inside the two-step race window
  * (between the missed UPDATE probe and the INSERT of the misses) — the
  * interleaving that keyed repartitioning used to be the only defense
  * against.
  */
private[graft] class RacingSink(url: String, table: String, key: String,
    updateCols: Seq[String], concurrentInsertSql: String)
    extends JdbcUpsertSink(url, table, key, updateCols) {
  override protected def raceWindowHook(): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(concurrentInsertSql)
    finally c.close()
  }
}

/** The JDBC upsert path against embedded Derby: insert, conflict-update of
  * only the updatable columns, transaction rollback on failure, and the
  * streaming at-least-once replay giving effective exactly-once through the
  * real JDBC code path (reference postgres_sink.py:85-117).
  */
class JdbcUpsertSpec extends AnyFunSuite with Matchers with TestSpark {

  private def withDb[T](name: String, ddl: String)(f: String => T): T = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(ddl) finally conn.close()
    try f(url) finally {
      // in-memory Derby drop "succeeds" by raising 08006
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
      catch { case _: SQLException => () }
    }
  }

  private def queryAll(url: String, sql: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (1 to n).map(r.getObject(_): Any))
        .toList
    } finally conn.close()
  }

  private val ddl =
    """CREATE TABLE cleaned_reviews (
      |  review_id VARCHAR(32) PRIMARY KEY,
      |  rating INT NOT NULL,
      |  data_quality_score DOUBLE,
      |  processing_timestamp TIMESTAMP)""".stripMargin

  test("insert then conflict-update touches only updateCols") {
    import spark.implicits._
    withDb("upsert1", ddl) { url =>
      val sink = new JdbcUpsertSink(url, "cleaned_reviews", "review_id",
        updateCols = Seq("data_quality_score", "processing_timestamp"),
        batchSize = 2)
      val t1 = Timestamp.valueOf("2024-01-01 10:00:00")
      val t2 = Timestamp.valueOf("2024-01-01 11:00:00")
      sink.upsertBatch(Seq(
        ("r1", 4, 0.5, t1), ("r2", 5, 0.6, t1), ("r3", 3, 0.7, t1)
      ).toDF("review_id", "rating", "data_quality_score",
        "processing_timestamp"), 0L)
      queryAll(url, "SELECT count(*) FROM cleaned_reviews")
        .head.head shouldBe 3

      // replay r1 with a new score AND a new rating: the score updates,
      // the rating must NOT (only updateCols change on conflict)
      sink.upsertBatch(Seq(("r1", 1, 0.9, t2))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp"), 1L)
      val r1 = queryAll(url,
        "SELECT rating, data_quality_score FROM cleaned_reviews " +
          "WHERE review_id = 'r1'").head
      r1(0) shouldBe 4 // preserved
      r1(1) shouldBe 0.9 // updated
      queryAll(url, "SELECT count(*) FROM cleaned_reviews")
        .head.head shouldBe 3
    }
  }

  test("failed batch rolls back the whole partition transaction") {
    import spark.implicits._
    withDb("upsert2", ddl) { url =>
      val sink = new JdbcUpsertSink(url, "cleaned_reviews", "review_id",
        updateCols = Seq("data_quality_score"), batchSize = 100)
      val t1 = Timestamp.valueOf("2024-01-01 10:00:00")
      sink.upsertBatch(Seq(("r1", 4, 0.5, t1))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp"), 0L)

      // one good row + one violating NOT NULL(rating), single partition ->
      // the good row must not survive the rollback
      val bad = Seq(("r2", Some(5), 0.6, t1), ("r3", None, 0.7, t1))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp")
        .coalesce(1)
      an[Exception] should be thrownBy sink.upsertBatch(bad, 1L)
      queryAll(url, "SELECT review_id FROM cleaned_reviews")
        .map(_.head) shouldBe Seq("r1")
    }
  }

  test("native dialects emit the reference's atomic ON CONFLICT upsert") {
    val pg = new JdbcUpsertSink("jdbc:postgresql://wh/db", "cleaned_reviews",
      "review_id", Seq("data_quality_score", "processing_timestamp"))
    pg.upsertSql(Seq("review_id", "rating", "data_quality_score",
      "processing_timestamp")) shouldBe
      "INSERT INTO cleaned_reviews (review_id, rating, data_quality_score, " +
        "processing_timestamp) VALUES (?, ?, ?, ?) " +
        "ON CONFLICT (review_id) DO UPDATE SET " +
        "data_quality_score = EXCLUDED.data_quality_score, " +
        "processing_timestamp = EXCLUDED.processing_timestamp"
    // DuckDB shares the syntax; everything else takes the two-step path
    new JdbcUpsertSink("jdbc:duckdb:/wh.db", "t", "k", Seq("v"))
      .upsertSql(Seq("k", "v")) should include("ON CONFLICT (k)")
  }

  test("SUCCESS_NO_INFO batch counts do not silently drop new keys") {
    import spark.implicits._
    withDb("upsert4", ddl) { url =>
      val sink = new NoInfoSink(url, "cleaned_reviews", "review_id",
        Seq("data_quality_score"))
      val t1 = Timestamp.valueOf("2024-01-01 10:00:00")
      sink.upsertBatch(Seq(("r1", 4, 0.5, t1))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp"), 0L)
      // r1 exists (update hit), r2 is new: a sink trusting -2 as "updated"
      // would never insert r2
      sink.upsertBatch(Seq(("r1", 4, 0.9, t1), ("r2", 5, 0.6, t1))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp"), 1L)
      queryAll(url,
        "SELECT review_id, data_quality_score FROM cleaned_reviews " +
          "ORDER BY review_id") shouldBe
        Seq(Seq("r1", 0.9), Seq("r2", 0.6))
    }
  }

  test("a concurrent writer inside the race window is survived without " +
      "the keyed-repartition precondition") {
    import spark.implicits._
    withDb("upsert5", ddl) { url =>
      val t1 = Timestamp.valueOf("2024-01-01 10:00:00")
      // the hook inserts x1 AFTER our UPDATE misses and BEFORE our INSERT:
      // the insert loses the race (duplicate key) and the group must retry
      // per-row — final state keeps the concurrent writer's non-update
      // columns (rating=9) with OUR updateCols applied (score=0.9)
      val sink = new RacingSink(url, "cleaned_reviews", "review_id",
        Seq("data_quality_score"),
        "INSERT INTO cleaned_reviews VALUES ('x1', 9, 0.1, null)")
      sink.upsertBatch(Seq(("x1", 4, 0.9, t1))
        .toDF("review_id", "rating", "data_quality_score",
          "processing_timestamp").coalesce(1), 0L)
      queryAll(url,
        "SELECT rating, data_quality_score FROM cleaned_reviews " +
          "WHERE review_id = 'x1'") shouldBe Seq(Seq(9, 0.9))
    }
  }

  test("streaming replay through the JDBC path is effectively exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withDb("upsert3", ddl) { url =>
      val sink = new JdbcUpsertSink(url, "cleaned_reviews", "review_id",
        updateCols = Seq("data_quality_score", "processing_timestamp"))
      val in = MemoryStream[RawReview]
      val q = Clean.annotate(in.toDF()).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.upsertBatch(Clean.cleaned(batch).selectExpr("review_id",
            "rating", "data_quality_score",
            "current_timestamp() AS processing_timestamp"), id)
        }.start()
      def raw(id: String) = RawReview(id, "b1", "u1", Some(4.0),
        "this is a perfectly fine review of the place",
        Timestamp.valueOf("2024-01-01 10:00:00"), Some(1), Some(0), Some(0),
        "test")
      try {
        in.addData(raw("r1"), raw("r2"))
        q.processAllAvailable()
        // at-least-once redelivery -> same keys, same table state
        in.addData(raw("r1"))
        q.processAllAvailable()
        queryAll(url, "SELECT count(*) FROM cleaned_reviews")
          .head.head shouldBe 2
      } finally q.stop()
    }
  }
}
