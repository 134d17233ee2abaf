package perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.{QueryRegistry, Tables}
import graft.operators.{MessageOps, Stage}
import graft.sources.TopicStore
import graft.streaming.BatchLanding

/** Reading a topic of the store as a stream, as the reference consumer
  * subscribes (Earliest, admission cap `maxMessages`). */
object Streams {
  def options(maxMessages: Long): Map[String, String] = Map(
    "serviceUrl" -> "pulsar://local",
    "topicNames" -> "events",
    "subscriptionInitialPosition" -> "Earliest",
    "batchingMaxMessages" -> maxMessages.toString)

  def source(spark: SparkSession, root: String, maxMessages: Long): DataFrame =
    spark.readStream.format("pulsarlike").options(options(maxMessages))
      .option("path", root).load()

  /** The whole topic as one batch read. */
  def batch(spark: SparkSession, root: String): DataFrame =
    spark.read.format("pulsarlike").options(options(Int.MaxValue))
      .option("path", root).load()

  /** Order-independent fingerprint of a frame: row count and two sums of
    * per-row hashes over every column (maps rendered as JSON first,
    * since Spark does not hash maps). */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      sum(hash(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
  }
}

/** `drain`: a backlog published with `TopicStore.publish`, then consumed
  * by a pulsarlike stream in a few large AvailableNow epochs, dispatched
  * by content type and landed with `BatchLanding.land`. */
final class Drain(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  /** Messages per pass and the admission cap (four epochs per pass). */
  val Messages = 50000L
  val MaxPerEpoch = 12500L

  var messages: DataFrame = _
  var reference: (Long, java.math.BigDecimal, java.math.BigDecimal) = _

  def generate(dir: String): Unit = {
    Inputs.write(Inputs.events(spark, Messages, a.seed), dir, "events")
    tablesDir = dir
  }

  /** One full pass, unmeasured: a smaller one leaves the first measured
    * pass slower than the rest. */
  override def warmup(): Unit = {
    messages = MessageOps.fromEvents(Tables(spark, tablesDir, "events")).cache()
    messages.count()
    // the reference the landed rows must equal: a batch dispatch of the
    // same generated messages
    reference = Streams.fingerprint(
      MessageOps.contentTypeDispatch(messages, MessageOps.payloadSchema))
    val root = s"${a.work}/drain-warm"
    pass(messages, MaxPerEpoch, root, traced = false)
    Main.deleteTree(Paths.get(root))
  }

  /** publish + drain + check of one backlog; returns (publish_s,
    * drain_s, landed fingerprint). */
  def pass(msgs: DataFrame, cap: Long, root: String, traced: Boolean)
      : (Double, Double, (Long, java.math.BigDecimal, java.math.BigDecimal)) = {
    val out = s"$root/landed"
    val t0 = System.nanoTime()
    phase("publish", traced) {
      spans("TopicStore.publish") {
        TopicStore.publish(spark, msgs, root + "/store", "events", 4)
      }
    }
    val publishS = Main.seconds(t0)
    val t1 = System.nanoTime()
    phase("consume", traced) {
      spans("drain.stream") {
        val parent = spans.currentId
        val q = MessageOps.contentTypeDispatch(
            Streams.source(spark, root + "/store", cap), MessageOps.payloadSchema)
          .writeStream
          .option("checkpointLocation", root + "/ckpt")
          .foreachBatch { (df: DataFrame, bid: Long) =>
            if (traced) spans("BatchLanding.land", parent)(BatchLanding.land(df, out, bid))
            else BatchLanding.land(df, out, bid)
          }
          .trigger(Trigger.AvailableNow())
          .start()
        awaitDone(q)
      }
    }
    val drainS = Main.seconds(t1)
    val fp = phase("readback", traced) {
      spans("BatchLanding.read")(Streams.fingerprint(BatchLanding.read(spark, out)))
    }
    (publishS, drainS, fp)
  }

  def awaitDone(q: StreamingQuery): Unit = {
    if (!q.awaitTermination(Workload.StreamTimeoutMs)) {
      q.stop()
      sys.error(s"drain stream did not finish in ${Workload.StreamTimeoutMs} ms")
    }
    q.exception.foreach(e => throw e)
  }

  def rep(i: Int, traced: Boolean): ObjectNode = {
    val r = newRep(i, traced).put("ops", 1L).put("failed_ops", 0L)
    val root = s"${a.work}/drain-$i"
    guarded(r) {
      observe(traced) {
        val (publishS, drainS, fp) = pass(messages, MaxPerEpoch, root, traced)
        r.put("unit_s", publishS + drainS).put("publish_s", publishS)
          .put("rows", Messages.toDouble).put("rows_s", drainS)
        if (fp != reference) {
          r.put("ok", false).put("mismatch", true).put("failed_ops", 1L)
            .put("error", s"landed rows differ from the batch dispatch: $fp vs $reference")
        }
        if (traced) {
          countLanded(Paths.get(root, "landed"))
          storeProbes(root + "/store")
        }
      }
    }
    Main.deleteTree(Paths.get(root))
    r
  }

  /** Store-read, source-scan and dispatch rates over the drained topic,
    * each on its own so the layer's cost is not mixed with the others. */
  def storeProbes(store: String): Unit = {
    val dir = TopicStore.topicDir(store, "events")
    val parts = TopicStore.partitionIds(store, "events")
    val metas = parts.map(p => TopicStore.partitionMetaIn(dir, p))
    val n = metas.map(_._1).sum.toDouble
    layers.put("TopicStore.bytes_per_msg", metas.map(_._2).sum / n)
    val t0 = System.nanoTime()
    val read = spans("TopicStore.readEntries") {
      parts.map(p => TopicStore.readEntries(dir, p, 0, Long.MaxValue).size).sum
    }
    require(read == n.toLong, s"readEntries returned $read of $n messages")
    dist("TopicStore.readEntries_msgs_per_s", Seq(n / Main.seconds(t0)))
    val batch = Streams.batch(spark, store)
    val t1 = System.nanoTime()
    phase("consume", traced = true) {
      spans("PulsarLikeSource.scan")(batch.write.format("noop").mode("overwrite").save())
    }
    dist("PulsarLikeSource.scan_msgs_per_s", Seq(n / Main.seconds(t1)))
    val decoded = batch.cache()
    decoded.count()
    val t2 = System.nanoTime()
    spans("MessageOps.contentTypeDispatch") {
      MessageOps.contentTypeDispatch(decoded, MessageOps.payloadSchema)
        .write.format("noop").mode("overwrite").save()
    }
    dist("MessageOps.dispatch_msgs_per_s", Seq(n / Main.seconds(t2)))
    decoded.unpersist(blocking = true)
  }

  override def collectLayers(): Unit = {
    super.collectLayers()
    val pubs = spans.named("TopicStore.publish").map(_.ms / 1000)
    dist("TopicStore.publish_msgs_per_s", pubs.map(Messages / _))
  }

  /** One drain pass on a single-core session: the scaling baseline.
    * A quarter of the backlog with a quarter of the cap, so the pass has
    * the same four epochs. */
  def oneCorePass(s: SparkSession): Double = {
    val n = Messages / 4
    val msgs = MessageOps.fromEvents(Tables(s, tablesDir, "events")
      .filter(col("event_id") < n))
    val root = s"${a.work}/drain-1core"
    val single = new Drain(s, a)
    val (_, drainS, fp) = single.pass(msgs, MaxPerEpoch / 4, root, traced = false)
    require(fp._1 == n, s"1-core drain landed ${fp._1} of $n messages")
    Main.deleteTree(Paths.get(root))
    n / drainS
  }
}

/** `live`: an open-loop producer thread appends 20 messages every 10 ms
  * (2,000 msgs/s) with `TopicStore.append`, stamping each with its due
  * time; a `ProcessingTime(100 ms)` stream (the reference's poll
  * interval) dispatches and lands them. A supervisor restarts the stream
  * from its checkpoint whenever it dies, counting each crash. */
final class LiveWorkload(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  val Rate = 2000
  val TickMs = 10
  val PoolSize = 20000L
  val Partitions = 4

  /** Payload pool the producer cycles through: (key, base64 value,
    * content type, props k), in the seed's row order. */
  var pool: Array[(String, String, String, String)] = _

  def generate(dir: String): Unit = {
    Inputs.write(Inputs.events(spark, PoolSize, a.seed), dir, "events")
    tablesDir = dir
  }

  override def warmup(): Unit = {
    val enc = java.util.Base64.getEncoder
    pool = MessageOps.fromEvents(Tables(spark, tablesDir, "events"))
      .select(col("key"), col("value"), col("content_type"),
        col("properties").getItem("k"))
      .collect()
      .map(r => (r.getString(0), enc.encodeToString(r.getAs[Array[Byte]](1)),
        r.getString(2), r.getString(3)))
    window(s"${a.work}/live-warm", 1.0, traced = false)
  }

  // the live window is the measured unit: one in an untraced run, an
  // untraced and a traced half in a traced run
  override def moreReps: Boolean = false
  override def minTracedReps: Int = 2

  def rep(i: Int, traced: Boolean): ObjectNode = {
    val len = if (a.trace) a.seconds / 2 else a.seconds
    val r = newRep(i, traced)
    guarded(r) {
      observe(traced) { r.setAll[ObjectNode](window(s"${a.work}/live-$i", len, traced)) }
    }
    Main.deleteTree(Paths.get(s"${a.work}/live-$i"))
    r
  }

  /** One live window of `seconds` of production; returns its record. */
  def window(root: String, seconds: Double, traced: Boolean): ObjectNode = {
    val store = root + "/store"
    val out = root + "/landed"
    TopicStore.ensureNumPartitions(store, "events", Partitions)
    val landedAt = new ConcurrentHashMap[Long, Long]()
    @volatile var current: StreamingQuery = null
    def start(): Attempt = {
      val q = phase("consume", traced) {
        MessageOps.contentTypeDispatch(
            Streams.source(spark, store, 100000L), MessageOps.payloadSchema)
          .writeStream
          .option("checkpointLocation", root + "/ckpt")
          .foreachBatch { (df: DataFrame, bid: Long) =>
            if (traced) spans("BatchLanding.land", 0)(BatchLanding.land(df, out, bid))
            else BatchLanding.land(df, out, bid)
            landedAt.put(bid, System.nanoTime())
            ()
          }
          .trigger(Trigger.ProcessingTime(100))
          .start()
      }
      current = q
      Attempt.of(q)
    }
    val sup = new Supervisor(() => start())

    // producer: started once the stream is up, schedule anchored then
    @volatile var produced = 0L
    @volatile var producerDone = false
    @volatile var producerError: Throwable = null
    val appendMs = ArrayBuffer.empty[Double]
    var lateness: Array[Long] = Array.empty
    var producerS = 0.0
    val producer = new Thread(() => {
      try {
        val wallUs0 = System.currentTimeMillis() * 1000L
        val sched = OpenLoop.start(Rate, TickMs)
        val t0 = System.nanoTime()
        lateness = OpenLoop.run(sched, (seconds * 1e9).toLong, (tick, due) => {
          val dueUs = wallUs0 + (due - sched.anchorNs) / 1000
          val msgs = (0 until sched.perTick).map { j =>
            val seq = tick * sched.perTick + j
            val (key, v, ct, k) = pool((seq % pool.length).toInt)
            TopicStore.Msg(null, key, v,
              Map("k" -> k, "seq" -> seq.toString, "due_ns" -> due.toString),
              dueUs, dueUs, 0, ct)
          }
          msgs.groupBy(m => TopicStore.route(m.key, m.valueB64, Partitions))
            .toSeq.sortBy(_._1).foreach { case (p, ms) =>
              val c0 = System.nanoTime()
              TopicStore.append(store, "events", p, ms)
              if (traced) appendMs += (System.nanoTime() - c0) / 1e6
            }
          produced += msgs.size
        })
        producerS = Main.seconds(t0)
      } catch { case e: Throwable => producerError = e }
      finally producerDone = true
    }, "perfbench-producer")

    var backlogAtEnd = -1L
    def consumed(): Long = {
      val q = current
      val p = if (q == null) null else q.lastProgress
      if (p == null || p.sources.isEmpty) 0L
      else TopicStore.mapper.readTree(p.sources.head.endOffset).properties().asScala
        .filter(_.getKey.contains("/")).map(_.getValue.asLong()).sum
    }
    val deadline = System.nanoTime() + ((seconds + 60) * 1e9).toLong
    var started = false
    val caughtUp = sup.runUntil(() => {
      // start producing once the stream has polled the empty topic
      if (!started && current != null &&
          current.status.message.startsWith("Waiting for next trigger")) {
        started = true
        producer.start()
      }
      if (producerDone && backlogAtEnd < 0) backlogAtEnd = produced - consumed()
      producerDone && consumed() >= produced
    }, deadline)
    producer.join(Workload.StreamTimeoutMs)
    if (producerError != null) throw producerError
    if (!caughtUp) sys.error(s"live stream did not catch up: ${consumed()} of $produced")

    // every produced message must land exactly once
    val rows = phase("readback", traced) {
      spans("BatchLanding.read") {
        BatchLanding.readRaw(spark, out)
          .select(col("batch_id").cast("long"),
            col("properties").getItem("seq").cast("long"),
            col("properties").getItem("due_ns").cast("long"))
          .collect()
      }
    }
    val seqs = rows.map(_.getLong(1))
    val dup = rows.length - seqs.distinct.length
    val lost = produced - seqs.filter(s => s >= 0 && s < produced).distinct.length
    val lat = rows.map { r =>
      val bid = r.getLong(0)
      require(landedAt.containsKey(bid), s"no landing time for batch $bid")
      (landedAt.get(bid) - r.getLong(2)) / 1e6
    }
    val o = Main.mapper.createObjectNode()
    o.put("produced", produced).put("landed", rows.length.toLong)
      .put("duplicates", dup).put("lost", lost)
      .put("restarts", sup.restarts).put("attempts", sup.attempts)
      .put("producer_s", producerS)
      .put("backlog_at_end", backlogAtEnd)
    o.set("latency_ms", Main.arr(lat))
    o.set("producer_late_ms", Main.arr(lateness.map(_ / 1e6)))
    val cr = o.putArray("crashes")
    sup.crashes.foreach { case (c, f) => cr.add(s"$c at $f") }
    // operations: one per produced message and one per stream start; a
    // crash fails its stream start, a lost or duplicated message fails
    o.put("ops", produced + sup.attempts)
    o.put("failed_ops", sup.restarts + dup + lost)
    o.put("unit_s", Main.median(lat.toSeq) / 1000)
    o.put("rows", rows.length.toDouble).put("rows_s", producerS)
    if (dup > 0 || lost > 0)
      o.put("ok", false).put("mismatch", true)
        .put("error", s"$lost lost, $dup duplicated of $produced")
    if (traced) {
      dist("TopicStore.append_ms", appendMs)
      layers.put("TopicStore.append_calls", appendMs.size.toDouble)
      dist("TopicStore.publish_msgs_per_s", Seq(produced / producerS))
      val dir = TopicStore.topicDir(store, "events")
      val metas = TopicStore.partitionIds(store, "events")
        .map(p => TopicStore.partitionMetaIn(dir, p))
      layers.put("TopicStore.bytes_per_msg", metas.map(_._2).sum.toDouble / metas.map(_._1).sum)
      layers.put("PulsarLikeSource.backlog_msgs_end", backlogAtEnd.toDouble)
      layers.put("epoch.restarts", sup.restarts.toDouble)
      dist("live.latency_ms", lat)
      dist("live.producer_late_ms", lateness.map(_ / 1e6))
      countLanded(Paths.get(out))
    }
    o
  }
}

/** `registry`: the stateful stream gate w04 (interval join) and the
  * batch operator queries (p06 MinLabel + stageExact, d02 band join, q72
  * sketches, q57 single-task rank), run as Verify and Bench run them
  * (`QueryRegistry.byName(..).run`), each result written out for the
  * oracle check, with Bench's per-query hygiene between queries. The
  * second gate, ws10 (dedup then window), is left out: it was a third
  * of each pass, and with it a busy host's runs outgrew the time budget. */
final class Registry(spark: SparkSession, a: Main.Args) extends Workload(spark, a) {
  val gates = Seq("w04_stream_interval_join")
  val batchOps = Seq("p06_connected_components", "d02_minhash_lsh",
    "q72_kll_quantile_merge", "q57_exact_quantiles")
  val queries: Seq[String] = gates ++ batchOps

  /** Table sizes (sf0.1: 100,000 events, 5,000 documents, 600,000 line
    * items). */
  val Events = 30000L
  val Documents = 2000L
  val LineItems = 100000L

  def generate(dir: String): Unit = {
    Inputs.write(Inputs.events(spark, Events, a.seed), dir, "events")
    Inputs.write(Inputs.documents(spark, Documents, a.seed), dir, "documents")
    Inputs.write(Inputs.lineitem(spark, LineItems, a.seed), dir, "lineitem")
    tablesDir = dir
  }

  /** Input rows of the gates' streams, summed from their progress
    * events; the listener stays attached for the whole run. */
  val streamRows = new AtomicLong
  val rowCounter: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamRows.addAndGet(e.progress.numInputRows)
  }

  /** Two full unmeasured passes, run and written as a measured one is.
    * Stream start-up and first plans cost as much on small tables as on
    * these. The JIT is not done after one pass: the pass after it still
    * compiles half as long again as a later one, and its time spread
    * twice as widely from run to run (README.md). */
  override def warmup(): Unit = {
    spark.streams.addListener(rowCounter)
    queries.foreach(q => QueryRegistry.byName(q).oracle.foreach(sql => oracles.put(q, sql)))
    for (w <- 1 to 2) {
      val r = rep(-w, traced = false)
      if (!r.path("ok").asBoolean(false))
        sys.error(s"registry warm-up pass failed: ${r.path("error").asText()}")
    }
  }

  /** Rows of the generated table each batch query takes as input. */
  def tableRows(q: String): Double = q match {
    case "p06_connected_components" | "d02_minhash_lsh" => Documents.toDouble
    case _ => LineItems.toDouble
  }

  /** Bench's between-query hygiene, outside the timers. */
  def hygiene(): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    Stage.drain(spark)
  }

  def short(q: String): String = q.takeWhile(_ != '_')

  def rep(i: Int, traced: Boolean): ObjectNode = {
    val r = newRep(i, traced).put("ops", queries.size.toLong)
    val outs = r.putObject("outputs")
    val times = r.putObject("query_s")
    var failed = 0L
    var total = 0.0
    observed.drain(spark)
    streamRows.set(0L)
    observe(traced) {
      queries.foreach { q =>
        val out = s"${a.work}/out-$i/$q"
        observed.planTag = q
        val t0 = System.nanoTime()
        try {
          phase("answer", traced) {
            spans(q) {
              QueryRegistry.byName(q).run(spark, tablesDir)
                .coalesce(1).write.mode("overwrite").parquet(out)
            }
          }
          val s = Main.seconds(t0)
          times.put(q, s)
          total += s
          outs.put(q, out)
          if (traced) {
            dist(s"${if (gates.contains(q)) "gate" else "operators"}.${short(q)}_s", Seq(s))
            val staged = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
            layers.put("operators.staged_bytes_peak",
              math.max(layers.path("operators.staged_bytes_peak").asDouble(0), staged.toDouble))
            observed.drain(spark)
          }
        } catch { case e: Throwable =>
          failed += 1
          val (cls, top) = Supervisor.describe(e)
          r.put("error", s"$q: $cls at $top: ${e.getMessage}".take(500))
        }
        observed.planTag = ""
        hygiene()
      }
    }
    observed.drain(spark)
    r.put("failed_ops", failed).put("ok", failed == 0)
    r.put("unit_s", total).put("rows_s", total)
      .put("rows", streamRows.get() + batchOps.map(tableRows).sum)
    r.put("gates_s", gates.map(q => times.path(q).asDouble(0)).sum)
    r.put("batch_ops_s", batchOps.map(q => times.path(q).asDouble(0)).sum)
  }

  override def collectLayers(): Unit = {
    super.collectLayers()
    observed.synchronized {
      queries.foreach(q => layers.put(s"plan.${short(q)}.exchanges",
        observed.exchanges(q) / tracedReps.max(1).toDouble))
    }
  }
}
