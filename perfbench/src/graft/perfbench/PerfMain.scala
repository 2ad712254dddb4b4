package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.apps.CorpusPipeline
import graft.engine.Tables
import graft.operators.JsonRouting
import graft.streaming.StreamPipeline

/** One request of the streaming workload: an events-shaped row, the
  * input `StreamPipeline.routedResponses` routes and envelopes.
  */
final case class Req(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                     event_type: String, value: Double, props: String)

/** The benchmark's JVM side. It runs one workload against one dataset
  * directory and writes a JSON record of everything it measured; the
  * Python side (`run.py`) turns the record into metrics and checks
  * the outputs it names.
  *
  * Usage: `PerfMain key=value ...` with keys `workload` (catalog or
  * stream), `seed`, `seconds`, `trace` (0 or 1), `data` (dataset
  * directory), `work` (scratch directory, emptied by the caller), `out`
  * (record path) and, for `catalog`, `queries` (the comma-separated run
  * order), `tiers` (the tiers to build first) and `warm` (the queries to
  * run once, untimed, before the measured passes).
  */
object PerfMain {
  // one core of the 4-core host stays free for the driver thread, JIT
  // and GC; with all four given to tasks, run-to-run spreads of the
  // stream latencies were about twice as wide
  private val Cores = 3
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val data = kv("data")
    val work = kv("work")
    val loadStart = loadAvg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = secondsSince(t0)

    val t1 = System.nanoTime()
    warmUp(spark)
    val warmupS = secondsSince(t1)
    val calS = (1 to 3).map(_ => calibrationProbe(spark)).sorted.apply(1)

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "sessionStartS" -> sessionStartS, "warmupS" -> warmupS)
    try workload match {
      case "catalog" => runCatalog(spark, kv("queries").split(",").toSeq,
        kv("tiers").split(",").filter(_.nonEmpty).toSet, kv("warm").split(",").toSeq,
        data, work, seed, seconds, trace, rec)
      case "stream" => runStream(spark, work, seed, seconds, trace, rec)
      case other => sys.error(s"unknown workload $other")
    } finally {
      rec ++= Seq(
        "stamp" -> Map("loadStart" -> loadStart, "loadEnd" -> loadAvg(),
          "nproc" -> Runtime.getRuntime.availableProcessors(),
          "cores" -> Cores,
          "heapMb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
          "sparkVersion" -> spark.version,
          "javaVersion" -> System.getProperty("java.version"),
          "calProbeS" -> calS),
        "peakRssMb" -> peakRssMb())
      Files.writeString(Paths.get(kv("out")), Json(rec))
      spark.stop()
    }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Process peak resident set (`VmHWM`), in MB. */
  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** JIT and codegen of the first Spark job, so the first measured call
    * is not the one that pays them.
    */
  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    dropState(spark)
  }

  /** A fixed CPU + shuffle job whose time tracks how loaded the host is. */
  private def calibrationProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4000000L).selectExpr("id % 1000 AS k").groupBy("k").count().count()
    secondsSince(t0)
  }

  /** Releases every cached frame and persisted RDD, so no measured call
    * inherits the previous one's state.
    */
  private def dropState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Collects the heap, then gives Spark's context cleaner time to drop
    * the shuffle files and broadcasts the collection released, so that
    * work does not run inside the next measured call.
    */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(SettleMs)
  }

  private val SettleMs = 250L

  /** Persisted RDDs and their bytes still held right after a call. */
  private def leftovers(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size,
      infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** The Spark-side per-layer numbers of a measured root span. */
  private def layerTotals(tr: Tracer, root: Span, self: Map[Int, Acc]): Map[String, Any] = {
    val a = tr.subtree(root.id, self)
    val constructs = tr.spans.filter(s => s.kind == "construct" && inside(tr, s, root))
    val c = new Acc
    constructs.foreach(s => c += tr.subtree(s.id, self))
    Map("wallS" -> (root.endMs - root.startMs) / 1000.0,
      "constructS" -> constructs.map(s => s.endMs - s.startMs).sum / 1000.0,
      "constructJobs" -> c.jobs,
      "planS" -> a.planMs / 1000.0, "jobs" -> a.jobs, "stages" -> a.stages,
      "tasks" -> a.tasks, "schedDelayS" -> a.schedMs / 1000.0,
      "taskRunS" -> a.runMs / 1000.0, "taskCpuS" -> a.cpuNs / 1e9,
      "gcS" -> a.gcMs / 1000.0,
      "shuffleWriteMb" -> a.shuffleWrite / 1e6, "shuffleReadMb" -> a.shuffleRead / 1e6,
      "spillMb" -> a.spill / 1e6, "scanMb" -> a.scan / 1e6, "writeMb" -> a.written / 1e6,
      "callSites" -> tr.callSites(root).take(10).map { case (s, sec) =>
        Map("site" -> s, "s" -> sec) })
  }

  private def inside(tr: Tracer, s: Span, root: Span): Boolean =
    s.id == root.id || (s.parent >= 0 && inside(tr, tr.spans(s.parent), root))

  // ---------------------------------------------------------------- catalog

  /** The catalog operation that runs the corpus-curation app instead of
    * a `SparkEntry.queries` entry.
    */
  val CorpusOp = "corpus_pipeline"

  /** Times each operation of `order` on its full result and keeps the
    * output for `run.py`'s checks. A `SparkEntry.queries` entry is
    * constructed, then written to parquet (the rows `graft.Verify`
    * writes); [[CorpusOp]] is one `CorpusPipeline.run` over the
    * documents, writing shards and JSONL, with the 10% eval slice picked
    * by the seed. Whole passes over `order` repeat until `seconds` have
    * passed; with tracing on, one traced pass runs.
    */
  private def runCatalog(spark: SparkSession, order: Seq[String], tiers: Set[String],
                         warm: Seq[String], data: String, work: String, seed: Long,
                         seconds: Double, trace: Boolean,
                         rec: mutable.LinkedHashMap[String, Any]): Unit = {
    val fns = SparkEntry.queries
    val known = Tiers.all(spark, data).map(_.name).toSet
    val unknown = (order ++ warm).filterNot(q => fns.contains(q) || q == CorpusOp) ++
      tiers.filterNot(known)
    require(unknown.isEmpty, s"unknown queries or tiers: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(work))
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json(SparkEntry.oracleSql))
    rec("tiers") = buildTiers(spark, data, tiers)
    // one untimed run of each `warm` query, so JIT and codegen are warm
    // before the first measured query, whichever the seed puts first
    val tw = System.nanoTime()
    warm.foreach { q =>
      fns(q)(spark, data).write.mode("overwrite").parquet(s"$work/warm/$q")
      dropState(spark)
    }
    rec("warmQueriesS") = secondsSince(tw)

    def op(tr: Tracer, q: String, out: String, r: mutable.LinkedHashMap[String, Any]): Unit =
      if (q == CorpusOp) {
        val (docs, eval) = tr.span("construct", q) {
          val docs = Tables.documents(spark, data)
          (docs, docs.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(10L)) === 0))
        }
        val rep = tr.span("execute", q)(
          CorpusPipeline.run(docs, eval, s"$out/shards", s"$out/jsonl"))
        r("report") = Seq(rep.input, rep.urlKept, rep.gated, rep.cleaned, rep.kept, rep.shipped)
      } else {
        val df = tr.span("construct", q)(fns(q)(spark, data))
        tr.span("execute", q)(df.write.mode("overwrite").parquet(out))
      }

    def pass(tr: Tracer, k: Int): (Span, Seq[mutable.LinkedHashMap[String, Any]]) = {
      val rows = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
      tr.span("pass", s"p$k", leaf = false) {
        order.foreach { q =>
          val out = s"$work/out/$q/p$k"
          val r = mutable.LinkedHashMap[String, Any]("query" -> q, "pass" -> k, "out" -> out)
          tr.span("query", q, leaf = false) {
            try { op(tr, q, out, r); r("ok") = true }
            catch { case e: Throwable => r("ok") = false; r("error") = errorText(e) }
          }
          val qs = tr.spans.filter(_.kind == "query").last
          val kids = tr.spans.filter(_.parent == qs.id)
          def ms(kind: String) = kids.filter(_.kind == kind).map(s => s.endMs - s.startMs).sum
          val (leaked, storage) = leftovers(spark)
          r ++= Seq("constructS" -> ms("construct") / 1000.0,
            "executeS" -> ms("execute") / 1000.0,
            "totalS" -> (qs.endMs - qs.startMs) / 1000.0,
            "leakedRdds" -> leaked, "storageMb" -> storage, "span" -> qs.id)
          rows += r
          dropState(spark)
          settle()
        }
      }
      (tr.spans.filter(_.kind == "pass").last, rows.toSeq)
    }

    val all = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var k = 0
    if (trace) {
      val tr = new Tracer(spark, enabled = true)
      val (troot, trows) = pass(tr, k)
      tr.detach()
      val self = tr.attribute()
      trows.foreach { r =>
        val a = tr.subtree(r("span").asInstanceOf[Int], self)
        val cs = tr.spans.filter(s => s.parent == r("span") && s.kind == "construct")
        val c = new Acc
        cs.foreach(s => c += tr.subtree(s.id, self))
        r ++= Seq("planS" -> a.planMs / 1000.0, "constructJobs" -> c.jobs,
          "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "taskRunS" -> a.runMs / 1000.0, "schedDelayS" -> a.schedMs / 1000.0,
          "shuffleWriteMb" -> a.shuffleWrite / 1e6, "shuffleReadMb" -> a.shuffleRead / 1e6,
          "spillMb" -> a.spill / 1e6)
      }
      all ++= trows
      rec("layers") = layerTotals(tr, troot, self)
      rec("trace") = tr.dump(self)
      passWalls += (troot.endMs - troot.startMs) / 1000.0
    } else {
      val tr = new Tracer(spark, enabled = false)
      while (k == 0 || secondsSince(t0) < seconds) {
        val (root, rows) = pass(tr, k)
        all ++= rows; passWalls += (root.endMs - root.startMs) / 1000.0; k += 1
      }
    }
    rec("passWallS") = passWalls.toSeq
    rec("queries") = all.map(_.toMap).toSeq
  }

  /** Builds the named tiers cold, timing each build and sizing its output. */
  private def buildTiers(spark: SparkSession, data: String,
                         names: Set[String]): Seq[Map[String, Any]] =
    Tiers.all(spark, data).filter(t => names(t.name)).map { t =>
      val before = Tiers.bytes(t.dir())
      val t0 = System.nanoTime()
      val built = t.build()
      val s = secondsSince(t0)
      dropState(spark)
      Map("tier" -> t.name, "s" -> s, "built" -> built,
        "bytes" -> (Tiers.bytes(t.dir()) - before))
    }

  // ----------------------------------------------------------------- stream

  /** Deterministic request `id` of the stream seeded by `seed`. About
    * 3% carry a payload without the `k` field; the routing graph also
    * sends every tenth event id to its sentinel branch.
    */
  def request(seed: Long, id: Long, dueMs: Long): Req = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val props = if (r.nextInt(100) < 3) """{"foo": "bar"}""" else s"""{"k": ${r.nextInt(100)}}"""
    Req(id, new java.sql.Timestamp(dueMs), r.nextLong(1500),
      EventTypes(r.nextInt(EventTypes.size)),
      math.round(r.nextDouble() * 50000) / 100.0, props)
  }

  /** Requests in each preloaded backlog, and how many backlogs a run drains. */
  private val Backlog = 160000L
  private val Drains = 3

  /** The reference's service graph: requests enter a memory source, go
    * through `StreamPipeline.routedResponses` and land through
    * `StreamPipeline.exactlyOnceSink`. One open-loop generator (this
    * thread) adds each request at its due time: a warm-up (ending with
    * one backlog drain), then a fixed low rate, then a fixed high rate;
    * after the query catches up [[Drains]] preloaded backlogs are
    * drained one after another. Every
    * committed epoch's end time and id range are recorded; `run.py`
    * turns them into response latencies.
    */
  private def runStream(spark: SparkSession, work: String, seed: Long, seconds: Double,
                        trace: Boolean, rec: mutable.LinkedHashMap[String, Any]): Unit = {
    import spark.implicits._
    // one partition per core in every micro-batch, however many small
    // additions the generator made
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Req](
      spark, Cores)
    val outDir = s"$work/stream/out"
    val query = StreamPipeline.exactlyOnceSink(
      StreamPipeline.routedResponses(mem.toDF()), outDir, s"$work/stream/ckpt").start()

    var nextId = 0L
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tr = new Tracer(spark, enabled = false)
    /** Adds requests at `rate`/s for `sec` seconds, each at its due time. */
    def openLoop(name: String, rate: Double, sec: Double): Unit = {
      val first = nextId
      val n = (rate * sec).toLong
      var lateMax = 0L
      val start = System.currentTimeMillis()
      tr.span("phase", name, leaf = false) {
        while (nextId < first + n) {
          val now = System.currentTimeMillis()
          val upTo = math.min(first + n, first + ((now - start) * rate / 1000).toLong + 1)
          if (upTo > nextId) {
            val due = (i: Long) => start + ((i - first) * 1000 / rate).toLong
            lateMax = math.max(lateMax, now - due(nextId))
            mem.addData((nextId until upTo).map(i => request(seed, i, due(i))))
            nextId = upTo
          }
          Thread.sleep(2)
        }
        query.processAllAvailable()
      }
      phases += Map("phase" -> name, "firstId" -> first, "n" -> n, "rate" -> rate,
        "startMs" -> start, "endMs" -> System.currentTimeMillis(), "genLateMsMax" -> lateMax)
    }
    /** Adds `n` requests at once and waits until all are committed. */
    def drain(name: String, n: Long): Unit = {
      val first = nextId
      val start = System.currentTimeMillis()
      tr.span("phase", name, leaf = false) {
        mem.addData((first until first + n).map(i => request(seed, i, start)))
        nextId = first + n
        query.processAllAvailable()
      }
      phases += Map("phase" -> name, "firstId" -> first, "n" -> n, "rate" -> 0.0,
        "startMs" -> start, "endMs" -> System.currentTimeMillis(), "genLateMsMax" -> 0L)
    }

    try {
      // the first large batch still compiles its paths: it is set-up
      val t0 = System.nanoTime()
      openLoop("warmup", 2000, 3)
      drain("warmup_drain", Backlog)
      rec("streamWarmupS") = secondsSince(t0)
      if (trace) tr = new Tracer(spark, enabled = true)
      tr.span("workload", "stream", leaf = false) {
        openLoop("low", 2000, seconds * 0.4)
        openLoop("high", 32000, seconds * 0.4)
        (1 to Drains).foreach(_ => drain("drain", Backlog))
      }
      val root = tr.spans.filter(_.kind == "workload").last
      val epochs = query.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Map("batch" -> p.batchId, "startMs" -> start,
          "endMs" -> (start + d.getOrElse("triggerExecution", 0L)),
          "rows" -> p.numInputRows, "durations" -> d.toMap)
      }
      query.stop()
      if (trace) {
        val phaseSpans = tr.spans.filter(_.kind == "phase")
        epochs.foreach { e =>
          val s = e("startMs").asInstanceOf[Long]
          phaseSpans.find(p => p.startMs <= s && s <= p.endMs).foreach(p =>
            tr.record("batch", e("batch").toString, p.id, s, e("endMs").asInstanceOf[Long]))
        }
        tr.detach()
        val self = tr.attribute()
        rec("layers") = layerTotals(tr, root, self)
        rec("trace") = tr.dump(self)
      }
      rec("epochs") = epochs

      // correctness: exactly one response per request, equal to the
      // batch routing graph run over the same requests
      val tc = System.nanoTime()
      val out = spark.read.parquet(outDir).persist()
      val perEpoch = out.groupBy("epoch").agg(min("event_id"), max("event_id"), count(lit(1)))
        .collect().map(r => Map("batch" -> r.getInt(0).toLong, "minId" -> r.getLong(1),
          "maxId" -> r.getLong(2), "n" -> r.getLong(3))).toSeq
      val expected = JsonRouting.responseEnvelope(
        spark.range(nextId).map(i => request(seed, i, 0L)).toDF(), ordered = false)
      val got = out.groupBy("event_id").agg(count(lit(1)).as("n"),
        first(struct("status", "response_json")).as("got"))
      val c = got.join(expected.select(col("event_id"),
          struct("status", "response_json").as("want")), Seq("event_id"), "full_outer")
        .agg(sum(coalesce(col("n"), lit(0L))), count(col("n")),
          count(when(col("n").isNull, 1)), count(when(col("want").isNull, 1)),
          count(when(col("n").isNotNull && col("want").isNotNull &&
            !(col("got") <=> col("want")), 1)))
        .head()
      out.unpersist()
      rec("streamCheck") = Map("requests" -> nextId, "responses" -> c.getLong(0),
        "distinctIds" -> c.getLong(1), "missing" -> c.getLong(2),
        "unexpected" -> c.getLong(3), "unmatched" -> c.getLong(4))
      rec("epochIds") = perEpoch
      rec("checkS") = secondsSince(tc)
    } finally {
      if (query.isActive) query.stop()
      rec("phases") = phases.toSeq
    }
  }
}
