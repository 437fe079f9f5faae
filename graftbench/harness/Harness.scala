package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Kernels, SparkEntry, Tables}
import graft.engine.{IterativeTrainer, Ols}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Decontam, Dedup, Exec, Graph, Quality}
import graft.streaming.ChunkStore

/** One benchmark JVM: a closed loop with one client thread submitting
  * workload queries, one after another, into one long-lived session.
  *
  *   Harness setup key=value...   set up a session, print its set-up time
  *   Harness run   key=value...   set-up, cold pass, warm passes,
  *                                verification; results to `out=`
  *
  * Keys: `data` (input table dir), `work` (scratch dir), `cpus`,
  * `queries` (comma-separated ids; the cold pass runs them in this
  * order), `seed` (permutes the order of every later pass), `seconds`
  * (warm-pass budget), `trace` (0|1: listeners, spans and layer
  * probes), `tables`, `stores`, `probes` (what the traced run probes),
  * `verify` (dir for the verification dumps), `out` (result JSON),
  * `spans` (trace file).
  *
  * Every timed region is a query's construction plus a `noop` write of
  * its result (never `count()`, under which Catalyst prunes
  * projections). Store drains and GC run at query boundaries, outside
  * the timed regions. All numbers are raw seconds / bytes; statistics
  * over them are computed by the caller (`graftbench/run.py`).
  */
object Harness {

  // ---------------------------------------------------------------- set-up

  private def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** The session Bench/Verify build, with scratch kept under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds from JVM start to a ready session that has finished a first
    * trivial job. */
  def setUp(cpus: Int, work: String): (SparkSession, Double) = {
    val spark = session(cpus, work)
    spark.range(1).write.format("noop").mode("overwrite").save()
    (spark, (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }

  // ------------------------------------------------------------ listeners

  /** Spark-side counters, read by the traced run at span boundaries. */
  final class Counters extends SparkListener {
    val jobs, stages, tasks, cpuNs, inputBytes, inputRows,
      shuffleWrite, shuffleRead, spill = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snapshot: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_cpu_s" -> cpuNs.get / 1e9,
      "scan_mb" -> inputBytes.get / 1048576.0,
      "scan_rows" -> inputRows.get.toDouble,
      "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spill_mb" -> spill.get / 1048576.0)
  }

  /** Planning-phase time (analysis + optimization + planning) of every
    * finished QueryExecution. */
  final class Planning extends QueryExecutionListener {
    val planNs = new AtomicLong
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach { p =>
        planNs.addAndGet((p.endTimeMs - p.startTimeMs) * 1000000L)
        phases.add((p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Micro-batch progress of every streaming query. */
  final class Streams extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val count, rows, ms = new AtomicLong
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = Option(e.progress.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      batches.add((e.progress.numInputRows, t))
      count.incrementAndGet()
      rows.addAndGet(e.progress.numInputRows)
      ms.addAndGet(t)
    }
  }

  // ----------------------------------------------------------------- spans

  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long,
                        counts: Map[String, Double])

  // ------------------------------------------------------------ the run

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val o = args.drop(1).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val cpus = o.getOrElse("cpus", "4").toInt
    val work = o("work")
    // exit explicitly, so no lingering thread keeps a failed run's JVM alive
    try mode match {
      case "setup" =>
        val (spark, s) = setUp(cpus, work)
        spark.stop()
        println(f"""{"setup_s": ${fmt(s)}}""")
      case "run" => new Run(o, cpus, work).apply()
      case _ =>
        System.err.println("usage: Harness setup|run key=value...")
        sys.exit(2)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private final class Run(o: Map[String, String], cpus: Int, work: String) {
    private val dataDir = o("data")
    private val trace = o.getOrElse("trace", "0") == "1"
    private val seconds = o("seconds").toDouble
    private val verifyDir = o("verify")
    private val MinPasses = 3
    private val seed = o.getOrElse("seed", "0").toLong
    // set up first, so this sample times the same span as `Harness setup`
    private val (spark, setupS) = setUp(cpus, work)
    private val ids = o("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    private val registry = SparkEntry.queries
    private val names: Seq[String] = ids.map { id =>
      val hits = registry.keys.filter(_.startsWith(id + "_")).toSeq
      require(hits.size == 1, s"query id $id matches ${hits.mkString(",")}")
      hits.head
    }
    private val sc = spark.sparkContext
    private val counters = new Counters
    private val planning = new Planning
    private val streams = new Streams
    if (trace) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(planning)
      spark.streams.addListener(streams)
    }

    private val spans = ArrayBuffer.empty[Span]
    private var nextSpan = 0
    private def drainBus(): Unit =
      if (trace) org.apache.spark.GraftBenchBridge.waitForListeners(sc)
    private def counts(): Map[String, Double] =
      if (!trace) Map.empty
      else counters.snapshot ++ Map(
        "plan_s" -> planning.planNs.get / 1e9,
        "stream_batches" -> streams.count.get.toDouble,
        "stream_rows" -> streams.rows.get.toDouble,
        "stream_ms" -> streams.ms.get.toDouble)
    /** Run `body` as a span under `parent`; in a traced run the span
      * carries the listener-counter deltas over its interval. */
    private def span[A](name: String, parent: Int, counted: Boolean = true)(
        body: Int => A): (A, Span) = {
      val id = nextSpan; nextSpan += 1
      val c0 = if (counted) counts() else Map.empty[String, Double]
      val t0 = System.nanoTime()
      val a = body(id)
      val t1 = System.nanoTime()
      if (counted) drainBus()
      val c1 = if (counted) counts() else Map.empty[String, Double]
      val s = Span(id, parent, name, t0, t1,
        c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) })
      if (trace) spans += s
      (a, s)
    }

    private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

    // --------------------------------------------------- boundaries

    private var heapPeakMb = 0.0
    private val seenStoreRdds = scala.collection.mutable.Set.empty[Int]

    private def storageBytes(keep: Int => Boolean): Long =
      sc.getRDDStorageInfo.filter(i => keep(i.id))
        .map(i => i.memSize + i.diskSize).sum

    /** Persisted RDDs a consumed query left behind, outside the store
      * memo (counted before the drain releases them). */
    private def leakedRdds(): Int = {
      val live = Kernels.liveRddIds
      seenStoreRdds ++= live
      sc.getPersistentRDDs.keys.count(id => !live.contains(id))
    }

    /** The `Bench.clear()` drain: release every persisted RDD outside the
      * store memo. Returns the bytes released. */
    private def drain(): Long = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      val keep = Kernels.liveRddIds
      val freed = storageBytes(id => !keep.contains(id))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id))
          try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
      }
      freed
    }

    private def fullGc(): Unit = {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
    }

    /** Query boundary: drain, then a full GC, so every timed query starts
      * with an empty young generation (with Bench's gated GC, young
      * collections landed in different queries from run to run). */
    private def boundary(): (Int, Long) = {
      val leaked = leakedRdds()
      val freed = drain()
      fullGc()
      (leaked, freed)
    }

    // ----------------------------------------------------- one query

    final case class Sample(name: String, pass: Int, offsetS: Double,
                            seconds: Double, constructS: Double,
                            planS: Double, gcS: Double, leaked: Int,
                            drainedMb: Double, error: Option[String],
                            counts: Map[String, Double])

    private def timeQuery(name: String, pass: Int, passStart: Long,
                          parent: Int): Sample = {
      sc.setJobDescription(s"graftbench: $name")
      val offset = (System.nanoTime() - passStart) / 1e9
      val gc0 = gcMs()
      var construct = 0.0
      val (err, qs) = span(name, parent) { id =>
        try {
          val (df, cs) = span("construct", id, counted = false)(_ =>
            registry(name)(spark, dataDir))
          construct = (cs.endNs - cs.startNs) / 1e9
          span("execute", id, counted = false)(_ =>
            df.write.format("noop").mode("overwrite").save())
          None
        } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      val gc = (gcMs() - gc0) / 1e3
      val (leaked, freed) = boundary()
      Sample(name, pass, offset, (qs.endNs - qs.startNs) / 1e9, construct,
        qs.counts.getOrElse("plan_s", 0.0), gc, leaked, freed / 1048576.0,
        err, qs.counts)
    }

    // ------------------------------------------------------- verification

    private def normalized(df: DataFrame): DataFrame =
      df.select(df.columns.sorted.toSeq.map { c =>
        df.schema(c).dataType match {
          case DoubleType | FloatType =>
            format_string("%.9g", col(c).cast("double")).as(c)
          case _ => col(c)
        }
      }: _*)

    /** Row-order-independent fingerprint: row count and two 32-bit halves
      * of the summed per-row xxhash64. */
    private def fingerprint(df: DataFrame): String = {
      val n = normalized(df)
      val h = xxhash64(n.columns.toSeq.map(col): _*)
      val r = n.select(h.as("h"))
        .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
          sum(shiftrightunsigned(col("h"), 32)))
        .head()
      s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
    }

    private def clearStores(): Unit = {
      Kernels.clear()
      ChunkStore.clear()
    }

    /** Write each query's result to `verifyDir/<sub><query>`; the error
      * of each query that failed. */
    private def dumpAll(order: Seq[String], sub: String): Map[String, Option[String]] =
      order.map { n =>
        val e = try {
          registry(n)(spark, dataDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$verifyDir/$sub$n")
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        drain()
        n -> e
      }.toMap

    /** Given the results written with the stores warm (the DuckDB
      * oracle's input), clear the stores, write every result again in
      * reverse order so a different query rebuilds each shared store, and
      * compare the two fingerprints of each query. */
    private def verify(warm: Map[String, Option[String]]): Seq[(String, Option[String])] = {
      val dir = verifyDir
      val oracles = SparkEntry.oracleSql
      Files.write(Paths.get(s"$dir/oracle_sql.json"),
        names.filter(oracles.contains)
          .map(n => s"""  "${esc(n)}": "${esc(oracles(n))}"""")
          .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
      clearStores()
      val cleared = dumpAll(names.reverse, "_cleared/")
      names.map { n =>
        n -> (warm(n).map("stores warm: " + _)
          .orElse(cleared(n).map("stores cleared: " + _))
          .orElse {
            val a = fingerprint(spark.read.parquet(s"$dir/$n"))
            val b = fingerprint(spark.read.parquet(s"$dir/_cleared/$n"))
            if (a == b) None
            else Some(s"fingerprint with stores warm $a != with stores cleared $b")
          })
      }
    }

    // -------------------------------------------------------- layer probes

    private val probes = ArrayBuffer.empty[(String, Double)]
    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    private def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    /** Median of `reps` timed runs of `body`, recorded as probe `name`. */
    private def probe(name: String, parent: Int, reps: Int = 1)(body: => Unit): Double = {
      val ts = (1 to reps).map { _ =>
        val t = span(name, parent)(_ => timed(body))._1
        drain(); t
      }.sorted
      val m = ts(ts.size / 2)
      probes += name -> m
      m
    }

    private def tableScans(parent: Int, tables: Seq[String]): Unit = {
      val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
        "region" -> Tables.region, "nation" -> Tables.nation,
        "customer" -> Tables.customer, "supplier" -> Tables.supplier,
        "part" -> Tables.part, "orders" -> Tables.orders,
        "lineitem" -> Tables.lineitem, "events" -> Tables.events,
        "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
      val scanS = tables.map { t =>
        probe(s"tables.scan_s.$t", parent, 3)(noop(loaders(t)(spark, dataDir)))
      }.sum
      val scanMb = tables.map(t => new java.io.File(s"$dataDir/$t.parquet").length).sum / 1048576.0
      probes += "tables.scan_s" -> scanS
      probes += "tables.scan_mb_per_s" -> (if (scanS > 0) scanMb / scanS else 0.0)
    }

    /** Each store built on its own from an empty memo, then read back. */
    private def storeBuilds(parent: Int, wanted: Set[String]): Unit = {
      val s = spark; val d = dataDir
      val stores: Seq[(String, () => Seq[DataFrame])] = Seq(
        "gopherSignals" -> (() => Seq(Kernels.gopherSignals(s, d))),
        "docContentHash" -> (() => Seq(Kernels.docContentHash(s, d))),
        "benchOverlap" -> (() => Seq(Kernels.benchOverlap(s, d, n = 3))),
        "docBandKeys" -> (() => Seq(Kernels.docBandKeys(s, d))),
        "minhashPairs" -> (() => Seq(Kernels.minhashPairs(s, d, threshold = 0.8))),
        "minhashComponents" -> (() => Seq(Kernels.minhashComponents(s, d, threshold = 0.8))),
        "cappedShingleIndex" -> { () =>
          val ix = Kernels.cappedShingleIndex(s, d, shingleN = 3, maxShingleDf = 16)
          Seq(ix.idx, ix.docStats)
        },
        "bm25TopRanked" -> (() => Seq(graft.queries.Evals.bm25TopRanked(s, d))),
        "partCoEdges" -> (() => Seq(Kernels.partCoEdges(s, d))),
        "eventsHllRegisters" -> (() => Seq(Kernels.eventsHllRegisters(s, d, 10))))
      stores.filter(st => wanted(st._1)).foreach { case (store, build) =>
        Kernels.clear()
        fullGc()
        var frames = Seq.empty[DataFrame]
        probe(s"kernels.build_s.$store", parent)({ frames = build() })
        probe(s"kernels.read_s.$store", parent, 3)(frames.foreach(noop))
      }
      Kernels.clear()
    }

    /** Graph operators over the part co-occurrence store. */
    private def graphOps(parent: Int): Unit = {
      val edges = Kernels.partCoEdges(spark, dataDir)
      val seeds = edges.select(col("a").as("src")).distinct().limit(5)
      probe("operators.Graph.pagerank_s", parent)(
        noop(Graph.pagerank(edges.select(col("a").as("src"), col("b").as("dst")))))
      probe("operators.Graph.hits_s", parent)(noop(Graph.hits(edges, "a", "b")))
      probe("operators.Graph.labelPropagation_s", parent)(
        noop(Graph.labelPropagation(edges, "a", "b", 3)))
      probe("operators.Graph.bfsHops_s", parent)(
        noop(Graph.bfsHops(edges, "a", "b", seeds, "src", 3)))
      probe("operators.Graph.triangleCounts_s", parent)(
        noop(Graph.triangleCounts(edges, "a", "b")))
      Kernels.clear()
    }

    /** Curation operators over the documents table. */
    private def textOps(parent: Int): Unit = {
      val docs = Tables.documents(spark, dataDir)
      probe("operators.Dedup.minhashPairs_s", parent)(
        noop(Dedup.minhashPairs(docs, "doc_id", "text", 0.8)))
      probe("operators.Dedup.buildShingleIndex_s", parent) {
        val ix = Dedup.buildShingleIndex(docs, "doc_id", "text", 3, 16)
        Exec.releaseScratch(ix.idx, ix.docStats)
      }
      probe("operators.Quality.gopherFlags_s", parent)(
        noop(Quality.gopherFlags(docs, "doc_id", "text")))
      probe("operators.Decontam.overlap_s", parent)(
        noop(Decontam.overlap(docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text", 3)))
    }

    /** The paper's estimators on a lineitem (x, y) projection. */
    private def engineFits(parent: Int): Unit = {
      val xy = Tables.lineitem(spark, dataDir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      probe("engine.Ols.fitLinearExact_s", parent)(
        Ols.fitLinearExact(xy, "l_quantity", "l_extendedprice"))
      probe("engine.Ols.fitLinearMeta_s", parent)(
        Ols.fitLinearMeta(xy, "l_quantity", "l_extendedprice", cpus, 4, "l_orderkey"))
      probe("engine.IterativeTrainer.fit_s", parent)(
        IterativeTrainer.fit((0 until 3).iterator.map(i =>
          xy.filter(col("l_orderkey") % 3 === i)),
          "l_quantity", "l_extendedprice", alpha = 0.2))
    }

    /** Native expressions over a full column, beside the bare scan. */
    private def expressions(parent: Int): Unit = {
      val text = Tables.documents(spark, dataDir).select(col("text"))
      val emb = Tables.embeddings(spark, dataDir).select(col("embedding"))
      val names = Tables.customer(spark, dataDir).select(col("c_name"))
      def fn(name: String, base: DataFrame, c: Column): Unit =
        probe(s"functions.${name}_s", parent, 3)(noop(base.select(c.as("v"))))
      probe("functions.scan_text_s", parent, 3)(noop(text))
      probe("functions.scan_embedding_s", parent, 3)(noop(emb))
      probe("functions.scan_name_s", parent, 3)(noop(names))
      fn("graft_rolling_hash", text, TextFunctions.rollingHash(col("text")))
      fn("graft_simhash60", text,
        TextFunctions.simhash60(TextFunctions.words(col("text"))))
      fn("graft_word_shingles", text, TextFunctions.wordShingleArray(col("text"), 3))
      fn("graft_jaro_winkler", names,
        TextFunctions.jaroWinkler(col("c_name"), lit("Customer#000000042")))
      fn("graft_dot", emb, VectorFunctions.dot(col("embedding"), col("embedding")))
      fn("graft_quant_stats", emb, VectorFunctions.quantStats(col("embedding")))
    }

    /** A ChunkStore-staged stream-static join (q267), run twice: the
      * first run stages the chunks, the second replays them. */
    private def streaming(parent: Int): Unit = {
      val q = registry.keys.find(_.startsWith("q267_")).get
      ChunkStore.clear()
      val cb0 = ChunkStore.buildSec
      drainBus()
      val (n0, r0, m0) = (streams.count.get, streams.rows.get, streams.ms.get)
      val seen = streams.batches.size
      probe("streaming.query_s", parent, 2)(noop(registry(q)(spark, dataDir)))
      drainBus()
      val ms = (streams.ms.get - m0) / 1e3
      val batchS = streams.batches.asScala.toSeq.drop(seen).map(_._2 / 1e3).sorted
      probes += "streaming.chunkstore_build_s" -> (ChunkStore.buildSec - cb0)
      probes += "streaming.batches" -> (streams.count.get - n0) / 2.0
      probes += "streaming.batch_p50_s" ->
        (if (batchS.isEmpty) 0.0 else batchS(batchS.size / 2))
      probes += "streaming.rows_per_s" ->
        (if (ms > 0) (streams.rows.get - r0) / ms else 0.0)
      ChunkStore.clear()
    }

    /** The layer probes this workload's map names (`tables`, `stores`,
      * `probes` options); run after the warm passes. */
    private def layerProbes(parent: Int): Unit = {
      def list(k: String) = o.getOrElse(k, "").split(',').filter(_.nonEmpty).toSeq
      tableScans(parent, list("tables"))
      storeBuilds(parent, list("stores").toSet)
      val groups = list("probes").toSet
      if (groups("graph")) graphOps(parent)
      if (groups("text")) textOps(parent)
      if (groups("engine")) engineFits(parent)
      if (groups("functions")) expressions(parent)
      if (groups("streaming")) streaming(parent)
    }

    // ---------------------------------------------------------------- apply

    def apply(): Unit = {
      val t0 = System.nanoTime()
      val out = ArrayBuffer.empty[String]
      fullGc()
      val (_, root) = span("workload", -1) { root =>
        // cold pass: every query once in the fresh session
        val kb0 = Kernels.buildSec
        val cb0 = ChunkStore.buildSec
        val (cold, coldSpan) = span("pass.cold", root) { p =>
          val ps = System.nanoTime()
          names.map(n => timeQuery(n, 0, ps, p))
        }
        val kernelsBuild = Kernels.buildSec - kb0
        val chunkBuild = ChunkStore.buildSec - cb0
        fullGc()
        // an untimed settle pass while the JIT still compiles what the
        // cold pass ran; it writes each result with the stores warm, the
        // verification's first half. Then warm passes until the budget
        // (counted from the settle pass) is spent.
        val rng = new scala.util.Random(seed)
        val wallT0 = System.nanoTime()
        val warmDumps = span("pass.settle", root)(_ => dumpAll(rng.shuffle(names), ""))._1
        fullGc()
        val warm = ArrayBuffer.empty[Sample]
        var pass = 0
        while (pass < MinPasses || (System.nanoTime() - wallT0) / 1e9 < seconds) {
          pass += 1
          val order = rng.shuffle(names)
          warm ++= span(s"pass.warm.$pass", root) { p =>
            val st = System.nanoTime()
            order.map(n => timeQuery(n, pass, st, p))
          }._1
        }
        val retained = storageBytes(_ => true) / 1048576.0
        val storeMb = { val k = Kernels.liveRddIds; storageBytes(k.contains) / 1048576.0 }
        val storeRatio =
          if (Kernels.liveRddIds.isEmpty) 1.0
          else seenStoreRdds.size.toDouble / Kernels.liveRddIds.size

        val tProbes = System.nanoTime()
        if (trace) span("probes", root)(layerProbes)
        val tVerify = System.nanoTime()
        val verified = span("verify", root)(_ => verify(warmDumps))._1
        out += s""""phase_wall_s":{"cold":${fmt((coldSpan.endNs - coldSpan.startNs) / 1e9)},""" +
          s""""warm":${fmt((tProbes - coldSpan.endNs) / 1e9)},""" +
          s""""probes":${fmt((tVerify - tProbes) / 1e9)},""" +
          s""""verify":${fmt((System.nanoTime() - tVerify) / 1e9)}}"""

        def sampleJson(s: Sample): String =
          s"""{"q":"${esc(s.name)}","pass":${s.pass},"offset_s":${fmt(s.offsetS)},""" +
            s""""s":${fmt(s.seconds)},"construct_s":${fmt(s.constructS)},""" +
            s""""plan_s":${fmt(s.planS)},"gc_s":${fmt(s.gcS)},"leaked_rdds":${s.leaked},""" +
            s""""drained_mb":${fmt(s.drainedMb)},""" +
            s.error.map(e => s""""error":"${esc(e)}",""").getOrElse("") +
            s.counts.map { case (k, v) => s""""$k":${fmt(v)}""" }
              .mkString("\"counts\":{", ",", "}") + "}"
        out += s""""setup_s":${fmt(setupS)}"""
        out += s""""cpus":$cpus"""
        out += s""""cold":${cold.map(sampleJson).mkString("[", ",", "]")}"""
        out += s""""warm":${warm.map(sampleJson).mkString("[", ",", "]")}"""
        out += s""""kernels_build_s":${fmt(kernelsBuild)}"""
        out += s""""chunkstore_build_s":${fmt(chunkBuild)}"""
        out += s""""retained_storage_mb":${fmt(retained)}"""
        out += s""""kernels_storage_mb":${fmt(storeMb)}"""
        out += s""""kernels_build_ratio":${fmt(storeRatio)}"""
        out += s""""heap_after_gc_peak_mb":${fmt(heapPeakMb)}"""
        out += s""""probes":${probes.map { case (k, v) => s""""$k":${fmt(v)}""" }
          .mkString("{", ",", "}")}"""
        out += s""""verify":${verified.map { case (n, e) =>
          s"""{"q":"${esc(n)}"""" + e.map(x => s""","error":"${esc(x)}"""").getOrElse("") + "}"
        }.mkString("[", ",", "]")}"""
      }
      out += s""""run_wall_s":${fmt((System.nanoTime() - t0) / 1e9)}"""
      Files.write(Paths.get(o("out")),
        out.mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
      o.get("spans").filter(_ => trace).foreach { path =>
        // spans are kept in memory and written once, here
        val lines = spans.map { s =>
          s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
            s""""start_ns":${s.startNs},"end_ns":${s.endNs}""" +
            s.counts.map { case (k, v) => s""""$k":${fmt(v)}""" }
              .mkString(",\"counts\":{", ",", "}") + "}"
        } ++ planning.phases.asScala.map { case (a, b) =>
          s"""{"name":"plan","start_ms":$a,"end_ms":$b}"""
        }
        Files.write(Paths.get(path),
          lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      spark.stop()
    }
  }
}
