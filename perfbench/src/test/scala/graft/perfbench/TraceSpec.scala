package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Par

/** Job attribution of the traced run: jobs belong to the harness span
  * whose job group they carry, including jobs launched on a
  * `Par.concurrently` branch thread; back-to-back spans share no jobs.
  * Also pins the result content hash used by the correctness check. */
class TraceSpec extends AnyFunSuite {

  test("jobs land under the calling span, Par.concurrently branches included; " +
    "back-to-back spans share no jobs") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tracer = new Tracer(spark)
      tracer.register()
      val spans = new Spans(spark.sparkContext)
      val sc = spark.sparkContext
      val (_, a) = spans.timed(spans.runId, "query", "A") { _ =>
        Par.concurrently(spark)(sc.parallelize(1 to 8, 2).count())(
          sc.parallelize(1 to 8, 2).map(_ * 2).count())
      }
      val (_, b) = spans.timed(spans.runId, "query", "B") { _ =>
        sc.parallelize(1 to 4, 2).count()
      }
      spark.stop()
      val (jobSpans, _, _) = tracer.spans(spans.owner, spans.runId)
      val jobs = jobSpans.filter(_.kind == "job")
      val underA = jobs.filter(_.parent == a.id)
      val underB = jobs.filter(_.parent == b.id)
      // both branches' jobs are A's: two distinct call sites
      assert(underA.size == 2, jobs)
      assert(underA.map(_.attrs("call_site")).distinct.size == 2, underA)
      assert(underB.size == 1, jobs)
      assert(underA.map(_.id).intersect(underB.map(_.id)).isEmpty)
      assert(jobs.forall(_.parent != spans.runId), jobs)
      // a job's interval lies inside its span's (ms clock resolution)
      for ((s, js) <- Seq(a -> underA, b -> underB); j <- js) {
        assert(j.startMs >= math.floor(s.startMs) && j.endMs <= math.ceil(s.endMs) + 1, (s, j))
      }
    } finally spark.stop()
  }

  test("content hash ignores row order and sees values moving between nullable columns") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val df = Seq[(Option[String], Option[String], Int)](
        (Some("a"), None, 1), (None, Some("b"), 2), (Some("c"), Some("d"), 3)).toDF("x", "y", "n")
      val h = Main.contentHash(df)
      assert(h._1 == 3)
      assert(Main.contentHash(df.orderBy(col("n").desc).repartition(3)) == h)
      val shifted = Seq[(Option[String], Option[String], Int)](
        (None, Some("a"), 1), (None, Some("b"), 2), (Some("c"), Some("d"), 3)).toDF("x", "y", "n")
      assert(Main.contentHash(shifted) != h)
      assert(Main.contentHash(df.limit(2)) != h)
    } finally spark.stop()
  }
}
