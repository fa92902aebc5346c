package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.FoldStore

/** Torn manifests (power loss while a manifest was written: an empty
  * file, or one cut short) in both durable stores. A torn [[IndexStore]]
  * manifest must read as absent, so the index is republished and served
  * instead of failing every later load of that signature. A torn
  * [[FoldStore]] MANIFEST falls back to MANIFEST.bak, which must keep the
  * last committed state across a second tear.
  */
class TornManifestSpec extends AnyFunSuite with Matchers with TestSpark {

  private def withFreshRoot[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-idx-torn").toString
    IndexStore.rootOverride = Some(dir)
    try body finally IndexStore.rootOverride = None
  }

  private def manifests: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(IndexStore.root, "man"))
    try s.iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".json"))
    finally s.close()
  }

  private def rowsOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), expr("length(text)").as("n"))

  private def sorted(df: DataFrame) = df.orderBy("doc_id", "n").collect().toSeq

  test("IndexStore: an empty or truncated manifest is rebuilt by loadOrBuild, which " +
      "serves rows identical to a fresh build") {
    import spark.implicits._
    val src = (1L to 30L).map(i => (i, s"document number $i")).toDF("doc_id", "text")
    withFreshRoot {
      val fresh = sorted(IndexStore.loadOrBuild(spark, "torn", src)(rowsOf(src)))
      fresh should have length 30
      val Seq(man) = manifests
      val whole = Files.readString(man)
      for (torn <- Seq("", whole.take(whole.length / 2))) {
        withClue(s"manifest body '$torn': ") {
          Files.writeString(man, torn)
          sorted(IndexStore.loadOrBuild(spark, "torn", src)(rowsOf(src))) shouldBe
            fresh
          // republished whole: the next load is served from disk again
          Files.readString(man) shouldBe whole
        }
      }
    }
  }

  test("IndexStore: a truncated merge manifest is rebuilt by mergeOrBuild from the " +
      "standing base and increment segments") {
    import spark.implicits._
    val base = (1L to 20L).map(i => (i, s"base doc $i")).toDF("doc_id", "text")
    val inc = (100L to 104L).map(i => (i, s"inc $i")).toDF("doc_id", "text")
    withFreshRoot {
      def merged = sorted(IndexStore.mergeOrBuild(spark, "torn-inc", base, inc)(
        rowsOf(base))(rowsOf(inc)))
      val first = merged
      first shouldBe sorted(rowsOf(base.unionAll(inc)))
      // the combined manifest is the one naming two segments
      val combined = manifests.find(p => Files.readString(p).contains(",")).get
      val whole = Files.readString(combined)
      Files.writeString(combined, whole.take(whole.length - 4))
      merged shouldBe first
      Files.readString(combined) shouldBe whole
    }
  }

  test("FoldStore: after a fallback to MANIFEST.bak, the next fold keeps " +
      "the recovered state as .bak, so a second torn MANIFEST does not " +
      "lose every fold") {
    import spark.implicits._
    def rows(ids: Long*) = ids.toDF("id")
      .withColumn("pk", FoldStore.pk(8, col("id")))
    def ids(store: FoldStore) =
      store.read().select("id").collect().map(_.getLong(0)).sorted.toSeq
    val dir = Files.createTempDirectory("foldstore-torn").toString
    val man = Paths.get(dir, "MANIFEST")
    val store = FoldStore.open(spark, dir, rows(1, 2), prefixParts = 8)
    store.append(rows(10), 0L)
    store.append(rows(11), 1L)
    store.simulateCrash()
    Files.writeString(man, "") // torn: recovery falls back to fold 0
    val recovered = FoldStore.open(spark, dir, fail("no reseed"),
      prefixParts = 8)
    ids(recovered) shouldBe Seq(1L, 2, 10)
    recovered.append(rows(11), 1L) // the replayed batch
    recovered.simulateCrash()
    Files.writeString(man, "") // torn again
    val again = FoldStore.open(spark, dir, fail("no reseed"), prefixParts = 8)
    again.lastFoldedId shouldBe 0L
    ids(again) shouldBe Seq(1L, 2, 10)
    again.close()
  }
}
