package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.llm.{DedupIndex, SearchIndex}
import graft.sources.{Committer, StoreOps}

/** The shared table descriptor's rules: a swap that crashes between its
  * two renames loses no rows, the tombstone list is read with its known
  * schema, and no store spells its own table paths or calls the
  * write-aside, keyed-append and tombstone primitives itself. */
class StoreOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-storeops").toString

  /** The default committer, except that the first `<table>.tmp -> <table>`
    * rename fails: a crash between a swap's rename-aside and rename-in. */
  private final class FailFirstRenameIn extends Committer {
    @volatile var failed = false
    override def publishRename(fs: FileSystem, src: HPath, dst: HPath): Boolean =
      if (!failed && src.getName.endsWith(".tmp")) { failed = true; false }
      else Committer.Rename.publishRename(fs, src, dst)
    override def createExclusive(fs: FileSystem, p: HPath, content: Array[Byte]): Unit =
      Committer.Rename.createExclusive(fs, p, content)
  }

  test("a crash between a swap's two renames loses no rows") {
    val corpus = Seq(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a quick brown cat sleeps all day long today",
      3L -> "stock market prices rose sharply in early trading",
      4L -> "the fox and the hound ran through the forest").toDF("doc_id", "text")
    val batch = Seq(5L -> "a brown hound and a quick fox",
      6L -> "market prices for tulips fell").toDF("doc_id", "text")
    val qs = Seq(1L -> "quick brown fox", 2L -> "market prices", 3L -> "hound")
      .toDF("query_id", "qtext")
    val crashed = tmp()
    val clean = tmp()
    Seq(crashed, clean).foreach(SearchIndex.build(corpus, _))
    val committer = new FailFirstRenameIn
    Committer.install(committer)
    try intercept[IllegalArgumentException](SearchIndex.compact(crashed))
    finally Committer.reset()
    assert(committer.failed)
    // the crash state: the live postings renamed aside, the rewrite not in
    assert(!Files.exists(Paths.get(s"$crashed/postings.parquet")))
    assert(Files.exists(Paths.get(s"$crashed/postings.parquet.bak")))
    Seq(crashed, clean).foreach { dir =>
      SearchIndex.append(dir, batch)
      SearchIndex.compact(dir)
    }
    def ranked(dir: String): Seq[Seq[Any]] =
      SearchIndex.search(spark, dir, qs, topK = 5).orderBy("query_id", "rk")
        .collect().map(_.toSeq).toSeq
    val want = ranked(clean)
    assert(want.map(_.head).distinct.size === 3)
    assert(ranked(crashed) === want)
    assert(!Files.list(Paths.get(crashed)).iterator.asScala.exists(_.toString.endsWith(".bak")))
  }

  test("a tombstone-aware read and the dedup layout probe run no Spark job") {
    val dir = tmp()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    DedupIndex.build(Seq(1L -> base, 2L -> (base + " pi"), 3L -> "sailing ships and ocean tides")
      .toDF("doc_id", "text"), dir)
    DedupIndex.remove(dir, Seq(2L).toDF("doc_id"))
    assert(StoreOps.hasTombstones(spark, dir))
    val read = Harness.run(spark)(StoreOps.tombstones(spark, dir, "doc_id"))
    assert(read.jobs === 0)
    assert(read.value.as[Long].collect().toSeq === Seq(2L))
    val layout = Harness.run(spark)(DedupIndex.hasPfxLayout(spark, dir))
    assert(layout.value && layout.jobs === 0)
  }

  test("only StoreOps swaps, keyed-appends and tombstones; stores spell no table path") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main))
    val files = Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = main.relativize(p).toString
    val primitives = Seq("swapWrite(", "appendKeyed(", "Tombstones.")
    val callers = files.filter(p => primitives.exists(Files.readString(p).contains(_))).map(rel)
    assert(callers === Seq("sources/StoreOps.scala"))
    val stores = Seq("llm/AnnIndex.scala", "llm/CentroidStore.scala", "llm/DedupIndex.scala",
      "llm/SubstrIndex.scala", "llm/SketchStore.scala", "llm/Search.scala",
      "sources/RollupStore.scala")
    val tablePath = """s"\$\{?\w+\}?/[^"]*\.parquet"""".r
    for (store <- stores) {
      val literals = tablePath.findAllIn(Files.readString(main.resolve(store))).toSeq
      assert(literals.isEmpty, s"$store spells table paths: $literals")
    }
  }
}
