package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.MapType

import graft.GraftSession
import graft.ops.{LabelStore, NearDup, Pinned, TextClassifier}
import graft.queries.Registry
import graft.streaming.Streams
import graft.vector.{Ivf, Pca, Pq}

/** Benchmark JVM. One invocation runs one workload and writes one JSON
  * record (raw per-operation timings, correctness checks, leak counts,
  * and with `--trace 1` a span file); `perfbench/run.py` turns records
  * into metrics.
  *
  * {{{
  * Main --workload corpus_dag|ingest_ticks --data <tables dir>
  *      --ticks <ticks dir> --seconds <s> --seed <n> --trace 0|1
  *      --cpus <n> --work <scratch dir> --out <record.json>
  *      [--mode run|setup|expected] [--check 0|1] [--reads <per tick>]
  * }}}
  *
  * `setup` stops after set-up (session, first read, tick model
  * training) so the caller can sample set-up time in fresh JVMs;
  * `expected` runs each query once untimed and writes its result and
  * content hash for seeding the stored expected values. `--check 0`
  * skips the untimed correctness work after the timed part (used for
  * the untraced side of a traced run, whose traced side checks).
  */
object Main {

  /** The whole-DAG funnels and near-dup graph rows. q64 (connected
    * components over LSH pairs) is left out: q66 runs the same
    * signatures, pairs and components and then its keep-best dedup, and
    * the run must fit the benchmark's time budget. */
  val CorpusDag: Seq[String] = Seq("q163_pretrain_funnel",
    "q165_pretrain_funnel_full", "q178_langid_funnel", "q177_council_pq_store",
    "q14_lsh_neardup_pairs", "q66_transitive_keep_best", "q83_pagerank")

  final case class Args(workload: String, data: String, ticks: String,
      seconds: Double, seed: Long, trace: Boolean, cpus: Int, work: String,
      out: String, mode: String, check: Boolean, reads: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m.getOrElse("ticks", ""),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("seed", "1").toLong,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt,
      m("work"), m("out"), m.getOrElse("mode", "run"), m.getOrElse("check", "1") == "1",
      m.getOrElse("reads", "1").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = System.nanoTime()
    val spark = GraftSession.local(a.cpus, appName = "perfbench")
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans(spark.sparkContext)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())
    val ctx = Ctx(spark, spans, a, jvmStartMs)
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "mode" -> a.mode, "session_start_s" -> sessionS,
      "host" -> Map("cpus" -> a.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.vm.version"),
        "available_processors" -> Runtime.getRuntime.availableProcessors))
    val body: scala.collection.Map[String, Any] =
      try {
        a.workload match {
          case "corpus_dag" => new QuerySuite(ctx, CorpusDag, "documents").run()
          case "ingest_ticks" => new IngestTicks(ctx).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("fatal" -> String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      }
    rec ++= body
    val storagePeak = ctx.storagePeakBytes
    spark.stop()
    rec("storage_peak_mb") = storagePeak / 1048576.0
    tracer.foreach { t =>
      val (jobSpans, plans, progress) = t.spans(spans.owner, spans.runId)
      val all = spans.all(Map("workload" -> a.workload)) ++ jobSpans
      val spanFile = Paths.get(a.out + ".spans.jsonl")
      Files.write(spanFile, all.map(_.toJson).asJava)
      rec("spans_file") = spanFile.toString
      rec("plan_events") = plans
      rec("stream_events") = progress
      rec("rdd_block_peak_mb") = t.rddPeakBytes / 1048576.0
    }
    Files.writeString(Paths.get(a.out), json(rec))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** JSON of records built from Scala maps, sequences, options and numbers. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Shared per-run state: the session, the span recorder and the
    * storage-memory high-water mark of RDD blocks (pins and caches),
    * sampled at fixed points of every operation. */
  final case class Ctx(spark: SparkSession, spans: Spans, args: Args, jvmStartMs: Double) {
    private var peak = 0L
    def sampleStorage(): Unit = {
      val used = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      if (used > peak) peak = used
    }
    def storagePeakBytes: Long = peak
    def setupSeconds: Double = (spans.nowMs - jvmStartMs) / 1000.0
    def jitSeconds: Double =
      Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)
  }

  /** Whole-stage and expression codegen counters (Spark's own):
    * cumulative janino compile time and number of compiled classes. */
  def codegen(): (Double, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Order-insensitive content hash of a result: row count and the
    * decimal sum of per-row xxhash64 over every column plus the row's
    * null bitmap (`graft.tools.Fingerprint`'s table hash, applied to a
    * query result). Columns are renamed by position so duplicate
    * names hash too; map columns hash as their sorted entries. */
  def contentHash(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val nullBitmap = array(named.columns.map(c => col(c).isNull).toSeq: _*)
    val row = named.select(count(lit(1)).as("n"),
      sum(xxhash64(cols.toSeq :+ nullBitmap: _*).cast("decimal(38,0)")).as("h")).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def firstLine(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.getClass.getName)

  /** Leak probe: RDDs still persisted after the harness released a
    * query. Records their count and stored bytes, then frees them so
    * the next query starts clean. */
  def leakProbe(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val live = sc.getPersistentRDDs
    if (live.isEmpty) (0, 0L)
    else {
      val ids = live.keySet
      val bytes = sc.getRDDStorageInfo.filter(r => ids.contains(r.id))
        .map(r => r.memSize + r.diskSize).sum
      live.values.foreach(_.unpersist(blocking = true))
      (live.size, bytes)
    }
  }

  /** `corpus_dag`: closed-loop passes over a fixed query list, one
    * query at a time. Pass 0 is the cold pass of this fresh JVM, in the
    * workload's fixed order; warm passes follow until the warm phase
    * has lasted `--seconds` (at least one pass), each in a seed-permuted
    * order. Each query is built (`Q.fn`), executed through the noop
    * sink and released (`clearCache` + `Pinned.releaseAll`), as
    * `graft.Bench` does, then probed for leaked pins. After the timed
    * passes an untimed hash pass builds each query again and records
    * its result's content hash, so no timed pass hashes anything. */
  final class QuerySuite(ctx: Ctx, queries: Seq[String], firstTable: String) {
    import ctx.{spark, spans, args}
    private val passes = ArrayBuffer.empty[Map[String, Any]]
    private val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    private var attempted = 0
    private var failed = 0

    def run(): Map[String, Any] = {
      spans.timed(spans.runId, "setup", "first-read") { _ =>
        spark.read.parquet(s"${args.data}/$firstTable.parquet").count()
      }
      val setupS = ctx.setupSeconds
      if (args.mode == "setup") return Map("setup_s" -> setupS)
      if (args.mode == "expected") return expected()
      // the cold pass runs in registry order, as a cron invocation would;
      // which query pays first-use costs must not depend on the seed
      pass("cold", 0, queries)
      val rng = new scala.util.Random(args.seed)
      val jitCold = ctx.jitSeconds
      val deadline = spans.nowMs + args.seconds * 1000
      var i = 1
      while (i == 1 || spans.nowMs < deadline) {
        pass("warm", i, rng.shuffle(queries)); i += 1
      }
      if (args.check) spans.timed(spans.runId, "hash-pass", "hash")(hid => queries.foreach(hash(hid, _)))
      Map("setup_s" -> setupS, "jit_cold_s" -> jitCold, "passes" -> passes.toSeq,
        "attempted" -> attempted, "failed" -> failed) ++
        (if (args.check) Map("hashes" -> hashes.toMap) else Map.empty)
    }

    private def release(): (Int, Long) = {
      spark.catalog.clearCache()
      Pinned.releaseAll()
      leakProbe(spark)
    }

    private def pass(kind: String, idx: Int, order: Seq[String]): Unit = {
      val (cg0, cls0) = codegen()
      val (ops, ps) = spans.timed(spans.runId, "pass", s"$kind-$idx") { pid =>
        order.map(q => runQuery(pid, q))
      }
      val (cg1, cls1) = codegen()
      passes += Map("kind" -> kind, "index" -> idx, "span" -> ps.id, "wall_s" -> ps.durMs / 1000,
        "codegen_s" -> (cg1 - cg0), "codegen_classes" -> (cls1 - cls0), "queries" -> ops)
    }

    private def runQuery(pid: Int, name: String): Map[String, Any] = {
      attempted += 1
      var err: Option[String] = None
      var leak = (0, 0L)
      var buildS = 0.0
      val (_, qs) = spans.timed(pid, "query", name) { qid =>
        try {
          val (df, bs) = spans.timed(qid, "build", name)(_ => Registry.byName(name).fn(spark, args.data))
          buildS = bs.durMs / 1000
          ctx.sampleStorage()
          spans.timed(qid, "exec", name)(_ => df.write.format("noop").mode("overwrite").save())
          ctx.sampleStorage()
        } catch { case e: Throwable => err = Some(firstLine(e)) }
        finally spans.timed(qid, "release", name)(_ => leak = release())
      }
      if (err.nonEmpty) failed += 1
      Map("name" -> name, "span" -> qs.id, "wall_s" -> qs.durMs / 1000,
        "build_s" -> buildS, "ok" -> err.isEmpty, "error" -> err,
        "leaked_rdds" -> leak._1, "leaked_bytes" -> leak._2)
    }

    /** Untimed: builds the query once more and records its result's
      * content hash. */
    private def hash(pid: Int, name: String): Unit = {
      attempted += 1
      spans.timed(pid, "hash", name) { _ =>
        hashes(name) =
          try {
            val (rows, digest) = contentHash(Registry.byName(name).fn(spark, args.data))
            Map[String, Any]("rows" -> rows, "hash" -> digest)
          } catch { case e: Throwable => failed += 1; Map[String, Any]("error" -> firstLine(e)) }
          finally release()
      }
    }

    /** Seeding mode: one untimed run per query; writes each result to
      * parquet (for the DuckDB cross-check) and records its hash and
      * oracle SQL. */
    private def expected(): Map[String, Any] = {
      val out = queries.map { q =>
        val Q = Registry.byName(q)
        val r = try {
          val df = Q.fn(spark, args.data)
          df.write.mode("overwrite").parquet(s"${args.work}/results/$q")
          release()
          val (rows, hash) = contentHash(Q.fn(spark, args.data))
          Map("rows" -> rows, "hash" -> hash, "sql" -> Q.sql)
        } catch { case e: Throwable => Map("error" -> firstLine(e)) }
        finally release()
        q -> r
      }.toMap
      Map("expected" -> out)
    }
  }

  /** `ingest_ticks`: the cron loop. Tick k lands the k-th seeded batch of
    * documents and embeddings in the stream input directories, then
    * drains the four production sinks one after another, each as one
    * `Trigger.AvailableNow` query: `lshDedupSink` (with the label
    * store, so `LabelStore.merge` runs per tick), `pqIndexSink`,
    * `nbOnlineSink` and `pcaMomentsSink`. After each tick `--reads`
    * reads are served, each a top-k over the PQ store and a keep/drop
    * label lookup.
    * Stores are measured by directory listing between ticks (untimed).
    * After the last tick the streamed state is checked against one-shot
    * recomputation over everything ingested. */
  final class IngestTicks(ctx: Ctx) {
    import ctx.{spark, spans, args}
    private val root = Paths.get(args.work).toAbsolutePath
    private def dir(p: String): String = root.resolve(p).toString
    private val landDocs = root.resolve("landing/docs")
    private val landVecs = root.resolve("landing/vecs")
    private val stores = Seq("sig", "pairs", "labels", "pq", "nb_stats", "nb_preds", "pca")

    def run(): Map[String, Any] = {
      val ((model, cents), _) = spans.timed(spans.runId, "setup", "train-pq") { _ =>
        val train = spark.read.parquet(s"${args.data}/embeddings.parquet")
        val c = Ivf.seedCentroids(train, "vec_id", "embedding", 8)
        (Pq.trainCodebooks(train, "vec_id", "embedding", 8, 8), c)
      }
      val setupS = ctx.setupSeconds
      if (args.mode == "setup") return Map("setup_s" -> setupS)
      Files.createDirectories(landDocs)
      Files.createDirectories(landVecs)
      val tickFiles = Files.list(Paths.get(args.ticks, "docs")).iterator().asScala
        .map(_.getFileName.toString).toSeq.sorted
      val docSchema = spark.read.parquet(Paths.get(args.ticks, "docs", tickFiles.head).toString).schema
      val vecSchema = spark.read.parquet(Paths.get(args.ticks, "vecs", tickFiles.head).toString).schema
      val docs = Streams.fileStream(spark, landDocs.toString, docSchema, maxFilesPerTrigger = 1000)
      val vecs = Streams.fileStream(spark, landVecs.toString, vecSchema, maxFilesPerTrigger = 1000)
      val rng = new scala.util.Random(args.seed)
      var attempted = 0
      var failed = 0
      var inputBytes = 0L
      var writtenBytes = 0L
      var labelsRewritten = 0L
      var jitCold = 0.0
      var before = listing()
      val ticks = ArrayBuffer.empty[Map[String, Any]]
      val serves = ArrayBuffer.empty[Map[String, Any]]
      tickFiles.zipWithIndex.foreach { case (f, k) =>
        val name = f"t$k%05d.parquet"
        Seq(("docs", landDocs), ("vecs", landVecs)).foreach { case (kind, to) =>
          val src = Paths.get(args.ticks, kind, f)
          inputBytes += Files.size(src)
          Files.copy(src, to.resolve(name), StandardCopyOption.REPLACE_EXISTING)
        }
        // the reads served after this tick, each a seeded vector of this
        // batch and the labels of 16 seeded documents of this batch
        val tickVecs = spark.read.parquet(Paths.get(args.ticks, "vecs", f).toString)
          .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        val tickIds = spark.read.parquet(Paths.get(args.ticks, "docs", f).toString)
          .select("doc_id").collect().map(_.getLong(0))
        val reads = Seq.fill(args.reads)(
          (tickVecs(rng.nextInt(tickVecs.length)), rng.shuffle(tickIds.toSeq).take(16)))
        attempted += 1
        val stageS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val (cg0, cls0) = codegen()
        val (ok, ts) = spans.timed(spans.runId, "tick", s"tick-$k") { tid =>
          def drain(stage: String)(writer: => DataStreamWriter[Row]): Boolean = {
            val (good, ss) = spans.timed(tid, "sink", stage) { sid =>
              val (w, _) = spans.timed(sid, "build", stage)(_ => writer)
              val q = w.start()
              spans.bindGroup(q.runId.toString, sid)
              spans.annotate(sid, Map("run_id" -> q.runId.toString))
              q.awaitTermination()
              q.exception.isEmpty
            }
            stageS(stage) = ss.durMs / 1000
            ctx.sampleStorage()
            good
          }
          val r = Seq(
            drain("lsh")(Streams.lshDedupSink(docs, "doc_id", "text", dir("sig"),
              dir("pairs"), dir("ckpt/lsh"), labelsPath = Some(dir("labels")))),
            drain("pq")(Streams.pqIndexSink(vecs, "vec_id", "embedding", model, cents,
              dir("pq"), dir("ckpt/pq"))),
            drain("nb")(Streams.nbOnlineSink(docs, "doc_id", "text", "lang",
              dir("nb_stats"), dir("nb_preds"), dir("ckpt/nb"))),
            drain("pca")(Streams.pcaMomentsSink(vecs, "embedding", dir("pca"),
              dir("ckpt/pca"))))
          r.forall(identity)
        }
        val (cg1, cls1) = codegen()
        if (k == 0) jitCold = ctx.jitSeconds
        if (!ok) failed += 1
        val (leakedRdds, leakedBytes) = leakProbe(spark)
        val after = listing()
        val pqFiles = after.keys.count(p => p.startsWith("pq/") && p.endsWith(".parquet"))
        val written = after.filter { case (p, (sz, mt)) => !before.get(p).contains((sz, mt)) }
        writtenBytes += written.values.map(_._1).sum
        labelsRewritten += written.filter(_._1.startsWith("labels/")).values.map(_._1).sum
        before = after
        ticks += Map("index" -> k, "span" -> ts.id, "wall_s" -> ts.durMs / 1000,
          "ok" -> ok, "stages" -> stageS.toMap, "codegen_s" -> (cg1 - cg0),
          "codegen_classes" -> (cls1 - cls0), "written_bytes" -> written.values.map(_._1).sum,
          "leaked_rdds" -> leakedRdds, "leaked_bytes" -> leakedBytes)
        reads.zipWithIndex.foreach { case ((v, ids), j) =>
          attempted += 1
          val sv = serve(k, j, v, ids, model, cents) + ("pq_files" -> pqFiles)
          if (sv("ok") == false) failed += 1
          serves += sv
        }
      }
      val (checks, cs) = spans.timed(spans.runId, "checks", "one-shot") { _ =>
        if (args.check) oneShotChecks() else Seq.empty
      }
      attempted += checks.size
      failed += checks.count(_("ok") == false)
      val end = listing()
      def bytesUnder(p: String) = end.filter(_._1.startsWith(p + "/")).values.map(_._1).sum
      def filesUnder(p: String) = end.count(e => e._1.startsWith(p + "/") && e._1.endsWith(".parquet"))
      Map("setup_s" -> setupS, "jit_cold_s" -> jitCold, "ticks" -> ticks.toSeq,
        "serves" -> serves.toSeq, "checks" -> checks, "checks_s" -> cs.durMs / 1000,
        "attempted" -> attempted,
        "failed" -> failed, "input_bytes" -> inputBytes, "written_bytes" -> writtenBytes,
        "store_bytes" -> stores.map(bytesUnder).sum,
        "docs_ingested" -> spark.read.parquet(landDocs.toString).count(),
        "stores" -> Map("sig_files" -> filesUnder("sig"), "sig_bytes" -> bytesUnder("sig"),
          "labels_bytes" -> bytesUnder("labels"), "labels_rewritten_bytes" -> labelsRewritten,
          "pq_files" -> filesUnder("pq"),
          "pairs" -> spark.read.parquet(dir("pairs")).count()))
    }

    private def serve(k: Int, j: Int, v: Array[Float], ids: Seq[Long], model: Pq.PqModel,
        cents: Array[Array[Float]]): Map[String, Any] = {
      var files = 0L
      var hits = 0
      var labelRows = 0
      try {
        val ((ps, ls), sp) = spans.timed(spans.runId, "serve", s"serve-$k-$j") { sid =>
          val (_, ps) = spans.timed(sid, "probe", "pq") { _ =>
            val df = Pq.probeIndexStore(spark, dir("pq"), "vec_id", v, 10, model, cents)
            hits = df.collect().length
            files = scanFiles(df)
          }
          val (_, ls) = spans.timed(sid, "probe", "labels") { _ =>
            labelRows = LabelStore.read(spark, dir("labels"))
              .filter(col("node").isin(ids: _*)).collect().length
          }
          (ps, ls)
        }
        Map("index" -> k, "read" -> j, "ok" -> (hits > 0), "wall_s" -> sp.durMs / 1000,
          "pq_probe_s" -> ps.durMs / 1000, "labels_s" -> ls.durMs / 1000,
          "files_read" -> files, "hits" -> hits, "label_rows" -> labelRows)
      } catch {
        case e: Throwable => Map("index" -> k, "read" -> j, "ok" -> false, "error" -> firstLine(e))
      }
    }

    /** Files the executed scan read (`numFiles` of the file scans). */
    private def scanFiles(df: DataFrame): Long = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      val helper = new AdaptiveSparkPlanHelper {}
      helper.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }

    /** (relative path -> (bytes, mtime)) of every file under the stores. */
    private def listing(): Map[String, (Long, Long)] =
      stores.flatMap { s =>
        val p = root.resolve(s)
        if (!Files.exists(p)) Nil
        else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
          root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }.toSeq
      }.toMap

    private def oneShotChecks(): Seq[Map[String, Any]] = {
      def check(name: String)(ok: => Boolean): Map[String, Any] =
        try Map("name" -> name, "ok" -> ok)
        catch { case e: Throwable => Map("name" -> name, "ok" -> false, "error" -> firstLine(e)) }
        finally release()
      val allDocs = spark.read.parquet(landDocs.toString)
      val allVecs = spark.read.parquet(landVecs.toString)
      def pairSet(df: DataFrame) =
        df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamedPairs = pairSet(spark.read.parquet(dir("pairs")))
      Seq(
        check("pairs = one-shot lshCandidatePairs") {
          streamedPairs == pairSet(NearDup.lshCandidatePairs(
            NearDup.minhashSignaturesFused(allDocs, "doc_id", col("text")), "doc_id"))
        },
        check("labels = one-shot connectedComponents") {
          def lab(df: DataFrame) = df.select("node", "component").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val l = lab(LabelStore.read(spark, dir("labels")))
          l.nonEmpty && l == lab(NearDup.connectedComponents(spark.read.parquet(dir("pairs"))))
        },
        check("nb stats = one-shot nbSufficientStats") {
          def st(df: DataFrame) = TextClassifier.mergeNbStats(df.select("label", "term", "n"))
            .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
          st(spark.read.parquet(dir("nb_stats"))) ==
            st(TextClassifier.nbSufficientStats(allDocs, col("lang"), col("text")))
        },
        check("pca moments = one-shot momentsDf") {
          def tot(df: DataFrame): (Long, Array[Double], Array[Double]) =
            df.select("n", "sum", "xtx").collect().map(r => (r.getLong(0),
              r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
              .reduce((x, y) => (x._1 + y._1, x._2.zip(y._2).map(t => t._1 + t._2),
                x._3.zip(y._3).map(t => t._1 + t._2)))
          val (n1, s1, x1) = tot(spark.read.parquet(dir("pca")))
          val (n2, s2, x2) = tot(Pca.momentsDf(allVecs, "embedding"))
          def close(a: Array[Double], b: Array[Double]) = a.length == b.length &&
            a.zip(b).forall { case (p, q) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q)) }
          n1 == n2 && close(s1, s2) && close(x1, x2)
        })
    }

    private def release(): Unit = {
      spark.catalog.clearCache()
      Pinned.releaseAll()
      leakProbe(spark)
    }
  }
}
