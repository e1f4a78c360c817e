package e2ebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.dedup.MinHashLSH
import graft.mapreduce.{JobRegistry, MapReduceRunner, SpecIni}
import graft.pipeline.Curate
import org.apache.spark.e2ebench.Bus
import graft.text.LangId

/** One benchmark run of one workload in one JVM: set-up (session +
  * warm-up ops), a closed loop of ops for a fixed time with every op's
  * output checked, and, when traced, the per-layer metrics.
  *
  * Usage: Main <meta.properties> <work dir> <seconds> <trace 0|1>
  *             <cores> <warm-up ops> <min ops> <result.json>
  *
  * The meta file, written by the input generator, names the workload
  * and its inputs and expectations. The result is a JSON document that
  * run.py turns into the reported metrics. */
object Main {

  final case class OpResult(wallS: Double, cpuS: Double, error: Option[String],
      layers: Map[String, Double])

  /** Wall and process CPU time spent inside the program's entry points
    * during one op. Harness work between the calls (writing the spec,
    * checking the output, cleaning up, draining the tracer) runs outside
    * it. */
  final class Clock {
    var wallNs = 0L
    var cpuNs = 0L
    def apply[T](f: => T): T = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      try f finally {
        wallNs += System.nanoTime() - t0
        cpuNs += osBean.getProcessCpuTime - c0
      }
    }
  }

  /** A workload: what one op runs, and how its output is checked. */
  trait Workload {
    /** Run one op, timing its program calls on `clock`; return named
      * timings (ms) and sizes observed by the harness itself, or throw.
      * Output check failures return Left. */
    def op(i: Int, traced: Boolean, clock: Clock): Either[String, Map[String, Double]]
    /** Untimed pass after the loop that fixes the reference result. */
    def reference(): Map[String, Any] = Map.empty
    /** Ops (by index; warm-up ops are negative) whose output differs
      * from the reference, known once [[reference]] has run. */
    def lateFailures(): Map[Int, String] = Map.empty
    /** Extra per-layer measurements made once, after the traced loop. */
    def layerExtras(): Map[String, Double] = Map.empty
  }

  val OpTimeoutS = 60L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def buildSession(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-free fingerprint of a frame's rows: count plus two hash
    * aggregates over every column. */
  def fingerprint(df: DataFrame, obs: Observation, extra: Column*): DataFrame = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val aggs = Seq(
      coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)).as("h1"),
      coalesce(bit_xor(h), lit(0L)).as("h2")) ++ extra
    df.observe(obs, count(lit(1)).as("n"), aggs: _*)
  }

  def fp(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}|${m("h1")}|${m("h2")}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // ---------------------------------------------------------- workloads

  final class MrWorkload(spark: SparkSession, meta: Map[String, String],
      work: Path) extends Workload {
    private val inputs = meta("inputs")
    private val r = meta("r").toInt
    private val job = meta("job")
    private val expect: Checks.Expect =
      if (job == "wordcount") Checks.loadTally(Paths.get(meta("tally")))
      else Checks.Multiset(meta("lines").toLong, java.lang.Long.parseUnsignedLong(meta("multiset_hash")))
    private val outRoot = work.resolve("mr-out")
    Files.createDirectories(outRoot)

    def op(i: Int, traced: Boolean, clock: Clock): Either[String, Map[String, Double]] = {
      val out = outRoot.resolve(s"op-$i")
      val ini = outRoot.resolve(s"op-$i.ini")
      Files.write(ini, Seq(
        "n_workers=1",
        "worker_ipaddr_ports=localhost:50051",
        s"input_files=$inputs",
        s"output_dir=$out",
        s"n_output_files=$r",
        s"map_kilobytes=${meta("map_kb")}",
        s"user_id=$job").mkString("\n").getBytes(UTF_8))
      val (spec, parseMs) = clock {
        val t0 = System.nanoTime()
        val spec = SpecIni.fromIni(ini.toString)
        (spec, (System.nanoTime() - t0) / 1e6)
      }
      clock(Tracer.inLayer(spark.sparkContext, Tracer.MapReduce)(MapReduceRunner.run(spark, spec)))
      val res = Checks.check(out, r, expect)
      deleteTree(out)
      Files.delete(ini)
      res.map(st => Map(
        "mr.spec_parse_ms" -> parseMs,
        "mr.sink.lines" -> st.lines.toDouble,
        "mr.sink.mb" -> st.bytes / 1e6,
        "mr.sink.files" -> st.files.toDouble))
    }

    /** S7 alone: writeSink over reduce output already materialized in
      * memory, median of three writes. */
    override def layerExtras(): Map[String, Double] = {
      val key = "spark.sql.files.maxPartitionBytes"
      spark.conf.set(key, meta("map_kb").toLong * 1024L)
      val reduced = try {
        MapReduceRunner.transform(spark.read.textFile(inputs.split(",").toIndexedSeq: _*),
          JobRegistry.get(job), r).persist(StorageLevel.MEMORY_ONLY)
      } finally spark.conf.unset(key)
      reduced.count()
      val ms = (0 until 3).map { k =>
        val out = outRoot.resolve(s"sink-$k")
        val t0 = System.nanoTime()
        Tracer.inLayer(spark.sparkContext, Tracer.MapReduce)(MapReduceRunner.writeSink(reduced, out.toString))
        val t = (System.nanoTime() - t0) / 1e6
        Checks.check(out, r, expect).left.foreach(e => throw new IllegalStateException(e))
        deleteTree(out)
        t
      }
      reduced.unpersist(true)
      Map("mr.sink_ms" -> median(ms))
    }
  }

  /** A fixed list of declared queries, run back to back into the noop
    * sink with the cache cleared between queries: a sample of query
    * families (battery_sample), or `curate_corpus`, the curation pipeline
    * (graft.pipeline, graft.dedup, graft.text) over the generated
    * documents (curate). */
  final class BatteryWorkload(spark: SparkSession, meta: Map[String, String],
      tracer: Tracer) extends Workload {
    private val dir = meta("tables")
    val names: Seq[String] = meta("queries").split(",").toSeq
    private val all = SparkEntry.queries
    private val fns = names.map(n => n -> all(n)).toMap
    private val ref = mutable.Map.empty[String, String]
    /** Each op's fingerprint per query, compared with the reference
      * after the loop, so the reference pass never sits between the
      * warm-up and the timed ops. */
    private val seen = mutable.Map.empty[Int, Map[String, String]]

    private def observed(q: String, obs: Observation): DataFrame = {
      val df = fns(q)(spark, dir)
      if (q == "curate_corpus")
        fingerprint(df, obs, sum(col("n_raw")).as("docs_in"), sum(col("n_kept")).as("docs_out"))
      else fingerprint(df, obs)
    }

    /** Runs each query once more, collecting its rows and the program's
      * DuckDB oracle SQL for the oracle comparison, and its fingerprint
      * for the per-op checks. */
    override def reference(): Map[String, Any] = {
      val rows = names.map { q =>
        val obs = Observation()
        val df = observed(q, obs)
        val data = df.collect().map(_.toSeq).toSeq
        ref(q) = fp(obs)
        spark.catalog.clearCache()
        q -> Map("columns" -> df.columns.toSeq, "rows" -> data)
      }.toMap
      Map("rows" -> rows, "sql" -> names.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    }

    override def lateFailures(): Map[Int, String] = seen.toMap.flatMap { case (i, fps) =>
      val bad = names.filter(q => fps(q) != ref(q))
      if (bad.isEmpty) None else Some(i -> s"fingerprint differs from reference: ${bad.mkString(",")}")
    }

    def op(i: Int, traced: Boolean, clock: Clock): Either[String, Map[String, Double]] = {
      val out = mutable.Map.empty[String, Double]
      val fps = mutable.Map.empty[String, String]
      names.foreach { q =>
        val obs = Observation()
        val shuffle0 = if (traced) { Bus.drain(spark.sparkContext); tracer.end()("shuffle.write_mb") } else 0.0
        val before = clock.wallNs
        clock(noop(observed(q, obs)))
        out(s"queries.$q.ms") = (clock.wallNs - before) / 1e6
        if (q == "curate_corpus") {
          val m = obs.get
          out("curate.docs_in") = m("docs_in").toString.toDouble
          out("curate.docs_out") = m("docs_out").toString.toDouble
          if (traced) {
            // the pipeline's persisted boundaries, before the sweep
            out("curate.cached_mb") =
              spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
            Bus.drain(spark.sparkContext)
            out("curate.shuffle_mb") = tracer.end()("shuffle.write_mb") - shuffle0
          }
        }
        spark.catalog.clearCache()
        fps(q) = fp(obs)
      }
      seen(i) = fps.toMap
      Right(out.toMap)
    }

    /** The curation pipeline's two costliest stages as separate layer
      * calls over the same documents: language scoring, and MinHash-LSH
      * keep-first. Median of three each. */
    override def layerExtras(): Map[String, Double] = if (!names.contains("curate_corpus")) Map.empty else {
      def time(f: => Unit): Double = median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      })
      val docs = graft.Tables.documents(spark, dir).persist(StorageLevel.MEMORY_ONLY)
      docs.count()
      val lang = time(noop(docs.select(LangId.detectNative(col("text")).as("lp"))))
      val mh = time {
        noop(MinHashLSH.dedupKeepFirst(docs, "doc_id", "text", Curate.Params().minhash))
        spark.catalog.clearCache()
      }
      docs.unpersist(true)
      spark.catalog.clearCache()
      Map("curate.langid_ms" -> lang, "curate.minhash_ms" -> mh)
    }
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(metaPath, workDir, secondsS, traceS, coresS, warmupS, minOpsS, outPath) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit =
      System.err.println(f"[e2ebench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3fs] $msg")
    val props = new java.util.Properties()
    val rd = Files.newBufferedReader(Paths.get(metaPath), UTF_8)
    try props.load(rd) finally rd.close()
    val meta = props.asScala.toMap
    val work = Paths.get(workDir).toAbsolutePath
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val warmup = warmupS.toInt
    val minOps = minOpsS.toInt

    val spark = buildSession(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session ready")
    val tracer = new Tracer
    val wl: Workload = meta("workload") match {
      case "mr_wordcount" | "mr_identity" => new MrWorkload(spark, meta, work)
      case "battery_sample" | "curate" => new BatteryWorkload(spark, meta, tracer)
    }

    // A hung op is cancelled after OpTimeoutS and counted as failed.
    val watchdog = Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
      val t = new Thread(r, "op-watchdog"); t.setDaemon(true); t
    }

    def runOp(i: Int, trace: Boolean): OpResult = {
      if (trace) {
        tracer.begin()
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val sc = spark.sparkContext
      val timer = watchdog.schedule((() => sc.cancelAllJobs()): Runnable, OpTimeoutS, TimeUnit.SECONDS)
      val gc0 = gcMs
      val clock = new Clock
      val res = try wl.op(i, trace, clock) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val wall = clock.wallNs / 1e9
      val cpu = clock.cpuNs / 1e9
      timer.cancel(false)
      val layers = if (trace) {
        Bus.drain(sc)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        val t = tracer.end()
        t ++ res.getOrElse(Map.empty) ++ Map(
          "jvm.gc_ms" -> (gcMs - gc0),
          "sched.core_busy_frac" -> t("task.run_ms") / (wall * 1000 * cores))
      } else Map.empty[String, Double]
      OpResult(wall, cpu, res.left.toOption, layers)
    }

    val warmupWall = (0 until warmup).map { i =>
      val r = runOp(-1 - i, trace = false)
      r.error.foreach(e => throw new IllegalStateException(s"warm-up op failed: $e"))
      r.wallS
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val jitSetupMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

    // Closed loop: one op in flight. In a traced run ops go untraced,
    // traced, traced, untraced, ... for at least two such rounds, so a
    // drift in op time (the JIT still settling) falls evenly on both
    // sides of the overhead comparison.
    val ops = mutable.ArrayBuffer.empty[(OpResult, Boolean)]
    val loopMin = if (traced) math.max(minOps, 8) else minOps
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < loopMin || System.nanoTime() < deadline) {
      val tr = traced && (ops.size % 4 == 1 || ops.size % 4 == 2)
      ops += (runOp(ops.size, tr) -> tr)
    }
    val extras = if (traced) wl.layerExtras() else Map.empty[String, Double]
    log("loop done")

    // Full GCs with pauses between them: the context cleaner frees
    // shuffle and broadcast state asynchronously once its weak
    // references are cleared, so one GC alone reads a racy figure.
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    log("heap measured")

    val reference = wl.reference()
    val late = wl.lateFailures()
    log("reference done")

    val layerMedians: Map[String, Double] = if (!traced) Map.empty else {
      val tr = ops.collect { case (r, true) => r }
      val keys = tr.flatMap(_.layers.keys).distinct
      keys.map(k => k -> median(tr.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap ++ extras ++ Map(
        "trace.op_s_p50" -> median(tr.map(_.wallS).toSeq),
        "trace.untraced_op_s_p50" -> median(ops.collect { case (r, false) => r.wallS }.toSeq))
    }

    val out = Map[String, Any](
      "ops" -> ops.zipWithIndex.map { case ((r, tr), i) =>
        Map("wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "traced" -> tr,
          "error" -> r.error.orElse(late.get(i)).orNull)
      }.toSeq,
      "warmup_failures" -> late.keys.count(_ < 0),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warmup_s" -> warmupWall,
      "jit_setup_ms" -> jitSetupMs,
      "retained_heap_mb" -> retainedMb,
      "layers" -> layerMedians,
      "reference" -> reference,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
    Files.write(Paths.get(outPath), Json.write(out).getBytes(UTF_8))
    log("result written")
    spark.stop()
    log("stopped")
  }
}
