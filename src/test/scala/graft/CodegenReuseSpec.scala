package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry
import graft.streaming.Streams

/** Generated code is compiled once per JVM (`GraftSession.codegenReuse`,
  * which the test session shares): a query built and run again, or a
  * streaming sink started again for the next cron tick, finds its
  * classes in Spark's codegen cache instead of recompiling them.
  * Counts come from Spark's own counter of janino compilations, which
  * is JVM-wide; the suites run one at a time in the forked test JVM. */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Classes compiled while `f` runs. */
  private def compiled(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def run(name: String): Unit = {
    Registry.byName(name).fn(spark, sf).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    graft.ops.Pinned.releaseAll()
  }

  test("a second build and run of a registry query compiles no class") {
    run("q83_pagerank")
    // other queries in between compile more distinct classes than
    // Spark's default cache (100 entries) holds, so q83's classes
    // survive only if the cache is sized for a whole pass
    val between = compiled(Seq("q14_lsh_neardup_pairs", "q66_transitive_keep_best",
      "q163_pretrain_funnel", "q165_pretrain_funnel_full", "q178_langid_funnel")
      .foreach(run))
    info(s"classes compiled in between: $between")
    assert(between > 100, s"only $between classes compiled in between")
    assert(compiled(run("q83_pagerank")) == 0)
  }

  test("a freshly started lshDedupSink drain over a new batch compiles at most 5 classes") {
    val dir = TestSpark.tempDir("codegen-reuse")
    val docs = graft.ops.NearDup.withMutatedCopies(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .select("doc_id", "text")
    // each drain is its own streaming query, as in a cron tick: a new
    // query object over the same checkpoint, started after the next
    // batch lands, with the label store merged every tick
    def drain(k: Int): Long = {
      docs.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
        .write.parquet(s"$dir/in/f=$k")
      compiled {
        Streams.lshDedupSink(Streams.fileStream(spark, s"$dir/in/*/", docs.schema),
          "doc_id", "text", s"$dir/store", s"$dir/pairs", s"$dir/ckpt",
          buckets = 16, labelsPath = Some(s"$dir/labels")).start().awaitTermination()
      }
    }
    val counts = (0 until 3).map(drain)
    info(s"classes compiled per drain: ${counts.mkString(", ")}")
    assert(counts(2) <= 5, counts.toString)
    assert(spark.read.parquet(s"$dir/pairs").count() > 0)
  }
}
