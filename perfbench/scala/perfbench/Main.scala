package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** One workload run: set up, measure for `--seconds`, write the raw
  * record (`--out`) that `perfbench/run.py` turns into metrics. Every
  * file it writes is under `--work`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <file> --launched-ms <t>
  */
object Main {
  val mapper = new ObjectMapper()

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, out: String, launchedMs: Long)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("work"), get("out"),
      get("launched-ms").toLong)
  }

  /** The session Bench uses (same settings), with scratch space kept
    * under the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        "graft.hadoop.NoChecksumLocalFileSystem")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JVM counters so far: CPU time of all threads (s), JIT compile
    * time summed over the compiler threads (ms), classes loaded. */
  def jvmCounters(): (Double, Double, Double) = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (os.getProcessCpuTime / 1e9,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def arr(xs: Iterable[Double]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(x => a.add(x))
    a
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }

  /** Heap after a forced GC, live threads, persisted RDDs, active
    * streams — taken after the workload, so growth shows per workload. */
  def resources(spark: SparkSession): ObjectNode = {
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a GC has cleared their references, so collect, let it run, repeat
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val o = mapper.createObjectNode()
    o.put("heap_after_gc_mb", heap / 1048576.0)
    o.put("threads", Thread.activeCount().toDouble)
    o.put("persisted_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble)
    o.put("active_streams", spark.streams.active.length.toDouble)
    o
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mapper.createObjectNode()
    rec.put("workload", a.workload)
    rec.put("seed", a.seed)
    rec.put("cores", a.cores)
    rec.put("trace", a.trace)
    Files.createDirectories(Paths.get(a.work))
    var spark = session(a.cores, a.work)
    val setup = rec.putObject("setup")
    setup.put("session_s", (System.currentTimeMillis() - a.launchedMs) / 1000.0)

    val wl: Workload = a.workload match {
      case "drain" => new Drain(spark, a)
      case "live" => new LiveWorkload(spark, a)
      case "registry" => new Registry(spark, a)
      case other => sys.error(s"unknown workload $other")
    }

    // several input generations, each into a fresh directory, so set-up
    // time is a median; the last copy is the one measured
    val gens = (0 until Workload.Generations).map { g =>
      val t0 = System.nanoTime()
      wl.generate(s"${a.work}/inputs-$g")
      seconds(t0)
    }
    setup.set("generate_s", arr(gens))
    val tw = System.nanoTime()
    wl.warmup()
    setup.put("warmup_s", seconds(tw))

    // the measured window: whole reps until `seconds` has passed; a
    // traced run alternates untraced and traced reps, untraced first,
    // and the difference between them is the tracing overhead
    val reps = rec.putArray("reps")
    val t0 = System.nanoTime()
    var i = 0
    val minReps = if (a.trace) wl.minTracedReps else 1
    while (i < minReps || (seconds(t0) < a.seconds && wl.moreReps)) {
      val traced = a.trace && i % 2 == 1
      val (cpu0, jit0, cls0) = jvmCounters()
      val r = wl.rep(i, traced)
      val (cpu1, jit1, cls1) = jvmCounters()
      reps.add(r.put("cpu_s", cpu1 - cpu0).put("jit_ms", jit1 - jit0)
        .put("classes_loaded", cls1 - cls0))
      i += 1
    }
    rec.put("measured_s", seconds(t0))
    rec.set("resources", resources(spark))
    rec.set("oracles", wl.oracles)
    rec.put("tables_dir", wl.tablesDir)
    if (a.trace) {
      wl.collectLayers()
      rec.set("layers", wl.layers)
      rec.set("dists", wl.dists)
      val spans = mapper.createArrayNode()
      wl.spans.all.forEach { s =>
        spans.add(mapper.createObjectNode().put("id", s.id).put("parent", s.parent)
          .put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs))
      }
      Files.writeString(Paths.get(a.out + ".spans.json"),
        mapper.writeValueAsString(spans))
      // single-core scaling baseline, after the resource snapshot: the
      // same drain job on a fresh local[1] session
      wl match {
        case d: Drain =>
          spark.stop()
          spark = session(1, a.work)
          wl.layers.put("drain_1core_msgs_per_s", d.oneCorePass(spark))
        case _ =>
      }
    }
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(rec))
    spark.stop()
  }
}

/** A workload as Main drives it. */
abstract class Workload(val spark: SparkSession, val a: Main.Args) {
  val spans = new Spans
  val observed = new Observed
  var tablesDir: String = ""
  val oracles: ObjectNode = Main.mapper.createObjectNode()

  /** Write this workload's seeded inputs under `dir`. */
  def generate(dir: String): Unit
  /** An untimed pass that loads classes and JIT-compiles the paths the
    * measured reps take. */
  def warmup(): Unit
  /** One measured rep; its record has `ok`, `error`, `unit_s`, `rows`,
    * `rows_s`, `ops`, `failed_ops`. */
  def rep(i: Int, traced: Boolean): ObjectNode
  def moreReps: Boolean = true
  /** Untraced, traced, untraced: the untraced reps straddle the traced
    * one, so a warm-up trend does not read as tracing overhead. */
  def minTracedReps: Int = 3

  def newRep(i: Int, traced: Boolean): ObjectNode =
    Main.mapper.createObjectNode().put("rep", i).put("traced", traced)

  /** Run `f` as one rep: a throw marks the rep failed (its time is
    * never used) and records the error. */
  def guarded(r: ObjectNode)(f: => Unit): ObjectNode = {
    try { f; if (!r.has("ok")) r.put("ok", true) }
    catch { case e: Throwable =>
      val (cls, top) = Supervisor.describe(e)
      r.put("ok", false).put("error", s"$cls at $top: ${e.getMessage}".take(500))
      r.put("failed_ops", r.path("ops").asLong(1L).max(1L))
    }
    r
  }

  /** Run `f` under job group `phase` (traced reps only). */
  def phase[T](name: String, traced: Boolean)(f: => T): T =
    if (!traced) f
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name)
      try f finally sc.clearJobGroup()
    }

  /** Traced reps so far: counts and sums are reported per traced rep. */
  var tracedReps = 0
  def perRep: Double = tracedReps.max(1).toDouble

  /** Attach listeners around a traced rep. */
  def observe[T](traced: Boolean)(f: => T): T =
    if (!traced) f
    else {
      tracedReps += 1
      observed.attach(spark)
      spans.enabled = true
      try f finally { spans.enabled = false; observed.detach(spark) }
    }

  // ---- per-layer records shared by the workloads ----
  // `layers` holds scalars; `dists` holds raw samples, which
  // perfbench/run.py summarises (median, tail by the percentile rule).

  val layers: ObjectNode = Main.mapper.createObjectNode()
  val dists: ObjectNode = Main.mapper.createObjectNode()

  /** Add samples to the distribution `name`. */
  def dist(name: String, xs: Iterable[Double]): Unit = {
    val a = dists.withArrayProperty(name)
    xs.foreach(x => a.add(x))
  }

  /** Epoch, source and state records from the traced reps' progress
    * events. */
  def progressLayers(): Unit = {
    import scala.jdk.CollectionConverters._
    val ps = observed.progress.asScala.toSeq
    def d(k: String) = ps.map(_.durations.getOrElse(k, 0L).toDouble)
    val nonEmpty = ps.filter(_.rows > 0)
    layers.put("epoch.count", ps.size / perRep)
    layers.put("epoch.nonempty_ratio",
      if (ps.isEmpty) 0.0 else nonEmpty.size.toDouble / ps.size)
    dist("epoch.trigger_ms", d("triggerExecution"))
    for (k <- Seq("queryPlanning", "walCommit", "commitOffsets", "addBatch"))
      dist(s"epoch.${k}_ms", d(k))
    dist("PulsarLikeSource.latestOffset_ms", d("latestOffset"))
    dist("PulsarLikeSource.getBatch_ms", d("getBatch"))
    dist("PulsarLikeSource.rows_per_epoch", nonEmpty.map(_.rows.toDouble))
    layers.put("state.rows_total", (0L +: ps.map(_.stateRows)).max.toDouble)
    layers.put("state.memory_bytes", (0L +: ps.map(_.stateMemory)).max.toDouble)
    layers.put("state.commit_ms_sum", ps.map(_.stateCommitMs).sum / perRep)
    layers.put("state.updates_ms_sum", ps.map(_.stateUpdatesMs).sum / perRep)
    layers.put("state.rows_dropped_late", ps.map(_.stateDroppedLate).sum / perRep)
  }

  /** Job and task counters per phase, from the SparkListener. */
  def sparkLayers(): Unit = observed.synchronized {
    val per = perRep
    for (ph <- Workload.Phases) {
      val st = observed.phases.getOrElse(ph, new observed.PhaseStats)
      layers.put(s"spark.$ph.jobs", st.jobs / per)
      layers.put(s"spark.$ph.tasks", st.tasks / per)
      layers.put(s"spark.$ph.shuffle_write_bytes", st.shuffleWrite / per)
      layers.put(s"spark.$ph.shuffle_read_bytes", st.shuffleRead / per)
      layers.put(s"spark.$ph.spill_bytes", st.spill / per)
      layers.put(s"spark.$ph.max_task_share",
        if (st.taskMs == 0) 0.0 else st.maxTaskMs.toDouble / st.taskMs)
    }
  }

  private var landedFiles = 0L
  private var landedBytes = 0L

  /** Count the parquet files and bytes a traced rep landed. */
  def countLanded(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.filter(p => p.toString.endsWith(".parquet")).forEach { p =>
      landedFiles += 1
      landedBytes += Files.size(p)
    } finally st.close()
  }

  /** Landing records from the spans and the landed files. */
  def landingLayers(): Unit = {
    val lands = spans.named("BatchLanding.land").map(_.ms)
    dist("BatchLanding.land_ms", lands)
    layers.put("BatchLanding.land_s_sum", lands.sum / 1000 / perRep)
    layers.put("BatchLanding.files_written", landedFiles / perRep)
    layers.put("BatchLanding.bytes_written", landedBytes / perRep)
    dist("BatchLanding.read_s", spans.named("BatchLanding.read").map(_.ms / 1000))
  }

  /** Fill the per-layer records after the measured window. */
  def collectLayers(): Unit = {
    progressLayers(); sparkLayers(); landingLayers()
  }
}

object Workload {
  val Generations = 3
  val Phases = Seq("publish", "consume", "answer", "readback")
  /** Bound on any single wait for a stream, so a stuck run fails. */
  val StreamTimeoutMs = 90000L
}

