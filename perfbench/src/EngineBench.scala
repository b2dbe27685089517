package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.ScaleOps
import graft.sources.Layout

/** The engine benchmark's JVM side: runs one workload against the program's
  * public functions and writes what it measured to `<work>/result.json`.
  *
  * A run is a closed loop with one client: three times it starts a Spark
  * session with fresh staging and replay roots and stages the workload's
  * fixtures; the last session then makes one warm-up pass, whose outputs
  * are written to `<work>/ref/<op>` for the external checkers, and whole
  * timed passes until `seconds` have elapsed. Every later output is compared
  * with the checked one. With `trace` on, passes alternate between
  * listeners attached and detached; the attached passes give the per-layer
  * counters and the difference gives the tracing cost.
  *
  * Usage: EngineBench <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <cpus>
  */
object EngineBench {

  final case class Out(schema: StructType, rows: Seq[Row])

  /** One operation of a pass. `tables` are the input tables whose rows the
    * op reads (the numerator of rows_per_s); `check` names the external
    * checker of its output. */
  final case class Op(name: String, module: String, check: String,
                      tables: Seq[String], run: Ctx => Out)

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
                  val spans: Spans, val seed: Long) {
    val commitS = mutable.ArrayBuffer.empty[Double]
    val readS = mutable.ArrayBuffer.empty[Double]
    var commits, filesAdded, filesRemoved, readFiles = 0L
    var passNo = 0
  }

  // ---- operations --------------------------------------------------------

  /** A `SparkEntry.queries` key: construct the frame (driver loops and
    * stream drains run here), plan it, then collect every row and column
    * (a `count()` would let Catalyst prune the aggregate the key exists
    * for). */
  def keyOp(key: String, module: String, check: String, tables: String*): Op =
    Op(key, module, check, tables, c => {
      val df = c.spans("construct")(SparkEntry.queries(key)(c.spark, c.data))
      c.spans("plan")(df.queryExecution.executedPlan)
      val rows = c.spans("execute")(df.collect())
      Out(df.schema, rows.toSeq)
    })

  val layoutCols = Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
  val NumOrders = 150000L

  /** A seeded sequence of commits on a fresh manifested table through
    * `sources.Layout`: write, append, delete, update, and an append under a
    * transaction. Pruned reads of the current snapshot follow the update,
    * the transaction's staged append (which must not show yet) and its
    * publish, and one read is AS OF a seeded earlier version; every read is
    * collected in full. The output is every read's rows tagged with its
    * read id; `<work>/layout_log.json` describes the commits and reads so
    * the checker can replay them in DuckDB. */
  def layoutOp: Op = Op("layout_commits", "sources", "layout", Seq("lineitem"), c => {
    val spark = c.spark
    val rnd = new scala.util.Random(c.seed)
    def range(width: Long): (Long, Long) = {
      val lo = (rnd.nextDouble() * (NumOrders - width)).toLong
      (lo, lo + width)
    }
    val path = s"${c.work}/layout/pass-${c.passNo}"
    val src = Tables.lineitem(spark, c.data).select(layoutCols.map(col): _*)
    def lines(n: Int) = src.filter(col("l_linenumber") === n)
    val log = mutable.ArrayBuffer.empty[String]
    val out = mutable.ArrayBuffer.empty[Row]
    var visible = -1 // the highest version readers should see
    var reads = 0
    def commit(kind: String, detail: String)(f: => (Int, Int)): Unit = {
      val (added, removed) = c.spans("commit")(f)
      c.commitS += c.spans.last("commit").seconds
      c.commits += 1; c.filesAdded += added; c.filesRemoved += removed
      log += s"""{"commit":"$kind"$detail}"""
      if (kind != "txn_append") visible += 1
    }
    def read(asOf: Int): Unit = {
      val (lo, hi) = range(3000)
      val (df, rows) = c.spans("read") {
        val df = Layout.manifestPrunedRead(spark, path, lit(lo), lit(hi), asOf.toLong)
          .filter(col("l_orderkey").between(lo, hi)).select(layoutCols.map(col): _*)
        (df, df.collect())
      }
      c.readFiles += df.inputFiles.length
      c.readS += c.spans.last("read").seconds
      log += s"""{"read":$reads,"as_of":$asOf,"lo":$lo,"hi":$hi}"""
      rows.foreach(r => out += Row.fromSeq(reads +: r.toSeq))
      reads += 1
    }
    commit("write", ""","line":1""") {
      Layout.writeManifested(lines(1), path, "l_orderkey", 4); (4, 0)
    }
    commit("append", ""","line":2""") {
      (Layout.appendManifested(lines(2), path, "l_orderkey", 2), 0)
    }
    val (dlo, dhi) = range(20000)
    commit("delete", s""","lo":$dlo,"hi":$dhi""") {
      Layout.deleteManifested(spark, path, "l_orderkey", lit(dlo), lit(dhi), 2)
    }
    val (ulo, uhi) = range(20000)
    commit("update", s""","lo":$ulo,"hi":$uhi,"add":100""") {
      Layout.updateManifested(spark, path, "l_orderkey", lit(ulo), lit(uhi),
        "l_quantity", col("l_quantity") + 100, 2)
    }
    read(visible)
    val txn = Layout.txnBegin(spark, s"$path/_txn/t1")
    commit("txn_append", ""","line":3""") {
      (Layout.txnAppendManifested(lines(3), path, "l_orderkey", 2, txn), 0)
    }
    read(visible) // staged but unpublished: still the previous snapshot
    commit("txn_publish", "") { Layout.txnPublish(spark, txn); (0, 0) }
    read(visible)
    read(rnd.nextInt(visible))
    Files.writeString(Paths.get(c.work, "layout_log.json"), log.mkString("[", ",\n", "]"))
    val schema = new StructType().add("read", "int")
      .add("l_orderkey", "long").add("l_partkey", "long")
      .add("l_linenumber", "int").add("l_quantity", "double")
    Out(schema, out.toSeq.sortBy(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))))
  })

  // The operations of each workload: a subset of the keys the workloads
  // are about, sized so that a pass takes a few seconds (README lists the
  // keys left out and why).
  val onepass: Seq[Op] = Seq(
    keyOp("q_ml_linreg_normal", "ml", "oracle", "lineitem"),
    keyOp("q_ml_logreg_step", "ml", "oracle", "embeddings"),
    keyOp("q_ml_nb_train", "ml", "oracle", "embeddings"),
    keyOp("q_ml_kmeans_step", "ml", "oracle", "embeddings"),
    keyOp("q_stats_ttest", "queries", "oracle", "lineitem"))

  val iterative: Seq[Op] = Seq(
    keyOp("q_text_unigram_train", "text", "unigram", "documents"),
    keyOp("q_ml_logreg_converged", "ml", "oracle", "embeddings"))

  val ingest: Seq[Op] = Seq(
    keyOp("q_stream_tumbling", "streaming", "oracle", "events"),
    layoutOp)

  /** A workload: its operations, the fixtures it stages besides the raw
    * tables (anything an op stages lazily lands in the warm-up pass), and
    * the fewest timed passes a run makes. */
  final case class Workload(ops: Seq[Op], stage: (SparkSession, String) => Unit,
                            minPasses: Int)

  val workloads: Map[String, Workload] = Map(
    "onepass_ml" -> Workload(onepass, (_, _) => (), 1),
    // Its pass is a few seconds of many small jobs, the time that swings
    // most with the host's load; the median of three passes steadies it.
    "iterative_train" -> Workload(iterative, (_, _) => (), 3),
    "ingest" -> Workload(ingest,
      (s, d) => { graft.streaming.Runtime.eventsStreamWithFlush(s, d); () }, 1))

  // ---- session -----------------------------------------------------------

  def session(work: String, root: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.stage.dir", s"$root/stage")
    spark.conf.set("graft.replay.dir", s"$root/replay")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    ScaleOps.releaseTracked()
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- main --------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  /** Heap in use after a full GC. Spark's ContextCleaner frees shuffle and
    * broadcast blocks only once a GC has collected their references, so a
    * second GC follows a pause for it. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(300); System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }


  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, seedArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val w = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val ops = w.ops
    val setups = 3
    val spans = new Spans
    val refs = mutable.Map.empty[String, Seq[Row]]
    val mismatches = mutable.ArrayBuffer.empty[String]
    val errors = mutable.ArrayBuffer.empty[String]
    val cacheAtEnd, cacheAfterRelease, activeStreams = mutable.ArrayBuffer.empty[Long]
    var storagePeak = 0L
    var attempted, failed = 0L
    var ctx: Ctx = null
    var spark: SparkSession = null

    /** Runs one op; returns its counters' id. */
    def runOp(op: Op, record: Boolean, listeners: Listeners): Int = {
      val id = spans.beginOp()
      val sc = spark.sparkContext
      sc.setJobDescription(op.name)
      val base = sc.getPersistentRDDs.size
      try {
        val out = spans(s"op:${op.name}", id)(op.run(ctx))
        spans("check")(refs.get(op.name) match {
          case None =>
            refs(op.name) = out.rows
            spark.createDataFrame(out.rows.asJava, out.schema).coalesce(1)
              .write.parquet(s"$work/ref/${op.name}")
          case Some(ref) =>
            if (ref != out.rows && mismatches.size < 20)
              mismatches += s"${op.name}: output differs from the checked pass"
        })
      } catch {
        case e: Throwable =>
          if (record) failed += 1
          errors += s"${op.name}: $e"
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          e.printStackTrace()
      }
      if (record) attempted += 1
      System.err.println(f"[perfbench] ${op.name} ${spans.last(s"op:${op.name}").seconds}%.3f s")
      val stored = sc.getRDDStorageInfo.map(_.memSize).sum
      val atEnd = sc.getPersistentRDDs.size - base
      ScaleOps.releaseTracked()
      val afterRelease = sc.getPersistentRDDs.size - base
      val active = spark.streams.active.length
      spark.streams.active.foreach(_.stop())
      listeners.drain()
      if (record) {
        cacheAtEnd += atEnd; cacheAfterRelease += afterRelease
        activeStreams += active; storagePeak = math.max(storagePeak, stored)
      }
      spans.currentOp = 0
      id
    }

    var listeners: Listeners = null

    def pass(record: Boolean, traced: Boolean): PassRec = {
      ctx.passNo += 1
      if (traced) listeners.attach()
      val ids = mutable.Map.empty[String, Int]
      val cpu0 = processCpu.getProcessCpuTime
      spans("pass") {
        ops.foreach(op => ids(op.name) = runOp(op, record, listeners))
      }
      val cpu = (processCpu.getProcessCpuTime - cpu0) / 1e9
      if (traced) listeners.detach()
      val wall = spans.last("pass").seconds
      val opS = ops.map(o => o.name -> spans.all.findLast(_.name == s"op:${o.name}").get.seconds).toMap
      ScaleOps.releaseTracked()
      PassRec(wall, cpu, traced, opS, ids.toMap, heapMb())
    }

    // Set-up: `setups` times a fresh session with fresh staging and replay
    // roots and the workload's fixtures staged into them; then one warm-up
    // pass on the last session, whose outputs become the checked reference.
    val setupS = mutable.ArrayBuffer.empty[(Double, Double)]
    val runStart = System.nanoTime()
    spans("run") {
      for (r <- 0 until setups) {
        val root = s"$work/setup-$r"
        spans("setup") {
          spark = spans("session")(session(work, root, cpus))
          spans("staging")(w.stage(spark, data))
        }
        setupS += ((spans.last("session").seconds, spans.last("staging").seconds))
        System.err.println(f"[perfbench] setup $r: session ${setupS.last._1}%.2f s, staging ${setupS.last._2}%.2f s")
        if (r < setups - 1) {
          stopSession(spark)
          Tables.deleteRecursively(root)
        }
      }
      ctx = new Ctx(spark, data, work, spans, seedArg.toLong)
      listeners = new Listeners(spark, spans)
      val warmup = spans("warmup")(pass(record = false, traced = false)).wall
      // Timed passes: whole passes until `seconds` have elapsed and at least
      // the workload's fewest passes have run. A traced
      // run alternates detached and attached passes, at least detached,
      // attached, detached, so a drift over the run cancels out of the
      // tracing overhead.
      listeners.byOp.clear()
      ctx.commitS.clear(); ctx.readS.clear()
      ctx.commits = 0; ctx.filesAdded = 0; ctx.filesRemoved = 0; ctx.readFiles = 0
      val passes = mutable.ArrayBuffer.empty[PassRec]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || passes.size < w.minPasses ||
          (trace && passes.size < 3))
        passes += pass(record = true, traced = trace && passes.size % 2 == 1)
      System.err.println(f"[perfbench] timed ${passes.size} passes in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      write(workload, work, ops, passes.toSeq,
        setupS.toSeq, warmup, ctx, listeners, spans, attempted, failed,
        mismatches.toSeq, errors.toSeq, cacheAtEnd.toSeq, cacheAfterRelease.toSeq,
        activeStreams.toSeq, storagePeak)
      listeners.close()
    }
    System.err.println(f"[perfbench] results written at ${(System.nanoTime() - runStart) / 1e9}%.1f s")
    stopSession(spark)
    Tables.deleteRecursively(s"$work/setup-${setups - 1}")
    if (trace) writeSpans(work, spans)
  }

  /** One pass: its wall and process CPU seconds, whether listeners were
    * attached, each op's seconds and counter id, and the heap after it. */
  final case class PassRec(wall: Double, cpu: Double, traced: Boolean,
                           opS: Map[String, Double], opIds: Map[String, Int], heap: Double)

  val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def write(workload: String, work: String, ops: Seq[Op], passes: Seq[PassRec],
            setups: Seq[(Double, Double)], warmup: Double, ctx: Ctx,
            listeners: Listeners, spans: Spans,
            attempted: Long, failed: Long, mismatches: Seq[String], errors: Seq[String],
            cacheAtEnd: Seq[Long], cacheAfterRelease: Seq[Long], activeStreams: Seq[Long],
            storagePeak: Long): Unit = {
    val rows = mutable.Map.empty[String, Long]
    def tableRows(t: String): Long = rows.getOrElseUpdate(t,
      ctx.spark.read.parquet(s"${ctx.data}/$t.parquet").count())
    val passRows = ops.map(o => o.tables.map(tableRows).sum).sum.toDouble
    val untraced = passes.filter(!_.traced)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (median(setups.map(s => s._1 + s._2)) + warmup, "s")
    e2e("wall_s") = (median(untraced.map(_.wall)), "s")
    e2e("rows_per_s") = (median(untraced.map(p => passRows / p.opS.values.sum)), "rows/s")
    e2e("heap_retained_mb") = (median(untraced.map(_.heap)), "MB")

    // Per-layer: counters of the traced passes (median over them), plus the
    // streaming and layout figures every pass records.
    val traced = passes.filter(_.traced)
    val pl = mutable.LinkedHashMap.empty[String, (Double, String)]
    pl("setup.session_s") = (median(setups.map(_._1)), "s")
    pl("setup.staging_s") = (median(setups.map(_._2)), "s")
    pl("setup.warmup_s") = (warmup, "s")
    def perPass(f: (PassRec, Seq[OpCounters]) => Double): Double =
      median(traced.map(p => f(p, p.opIds.values.toSeq.flatMap(listeners.byOp.get))))
    def sumC(f: OpCounters => Double): Double = perPass((_, cs) => cs.map(f).sum)
    def spanSum(name: String): Double = perPass((p, _) => {
      val ids = p.opIds.values.toSet
      spans.all.filter(s => s.name == name && ids(s.op)).map(_.seconds).sum
    })
    pl("queries.construct_s") = (spanSum("construct"), "s")
    pl("plan.count") = (sumC(_.plans.toDouble), "count")
    pl("plan.analysis_s") = (sumC(_.analysisNs / 1e9), "s")
    pl("plan.optimize_s") = (sumC(_.optimizeNs / 1e9), "s")
    pl("plan.physical_s") = (sumC(_.physicalNs / 1e9), "s")
    pl("exec.jobs") = (sumC(_.jobs.toDouble), "count")
    pl("exec.stages") = (sumC(_.stages.toDouble), "count")
    pl("exec.tasks") = (sumC(_.tasks.toDouble), "count")
    pl("exec.task_wait_s") = (sumC(_.taskWaitNs / 1e9), "s")
    pl("exec.task_busy_s") = (sumC(_.taskBusyNs / 1e9), "s")
    val cpus = ctx.spark.sparkContext.defaultParallelism
    pl("exec.parallel_eff") = (perPass((p, cs) =>
      cs.map(_.taskBusyNs / 1e9).sum / (cpus * p.opS.values.sum)), "ratio")
    pl("exec.gc_s") = (sumC(_.gcMs / 1e3), "s")
    pl("exec.process_cpu_s") = (median(traced.map(_.cpu)), "s")
    pl("exec.tasks_failed") = (sumC(_.tasksFailed.toDouble), "count")
    pl("exec.stages_retried") = (sumC(_.stagesRetried.toDouble), "count")
    pl("scan.bytes") = (sumC(_.scanBytes.toDouble), "bytes")
    pl("scan.rows") = (sumC(_.scanRows.toDouble), "count")
    pl("shuffle.write_bytes") = (sumC(_.shuffleWrite.toDouble), "bytes")
    pl("shuffle.read_bytes") = (sumC(_.shuffleRead.toDouble), "bytes")
    pl("shuffle.spill_bytes") = (sumC(_.spill.toDouble), "bytes")
    val nPasses = math.max(1, passes.size).toDouble
    pl("cache.frames_at_op_end") = (cacheAtEnd.sum / nPasses, "count")
    pl("cache.frames_after_release") = (cacheAfterRelease.sum / nPasses, "count")
    pl("cache.streams_active_after_op") = (activeStreams.sum / nPasses, "count")
    pl("cache.storage_bytes_peak") = (storagePeak.toDouble, "bytes")
    def moduleS(m: String): Double = perPass((p, _) =>
      ops.filter(_.module == m).map(o => p.opS(o.name)).sum)
    pl("text.train_s") = (moduleS("text"), "s")
    pl("text.jobs") = (perPass((p, _) => ops.filter(_.module == "text")
      .flatMap(o => listeners.byOp.get(p.opIds(o.name))).map(_.jobs.toDouble).sum), "count")
    pl("ml.loop_s") = (moduleS("ml"), "s")
    // Streaming: from the progress events of every recorded pass.
    val all = passes.flatMap(_.opIds.values).flatMap(listeners.byOp.get)
    val batches = all.flatMap(_.batchMs)
    val streamOps = ops.filter(_.module == "streaming").map(_.name)
    pl("streaming.batches") = (batches.size / nPasses, "count")
    pl("streaming.batch_p50_ms") = (median(batches), "ms")
    pl("streaming.batch_p90_ms") = (quantile(batches, 0.9), "ms")
    pl("streaming.events_per_s") = (
      if (streamOps.isEmpty) 0.0
      else all.map(_.inputRows).sum / passes.map(p => streamOps.map(p.opS).sum).sum, "rows/s")
    pl("streaming.startup_ms") = (all.map(_.startupMs).sum / nPasses, "ms")
    for ((k, n) <- Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
        "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
        "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets"))
      pl(s"streaming.${n}_ms") = (all.map(_.phaseMs(k)).sum / nPasses, "ms")
    pl("streaming.state_rows") = (all.map(_.stateRows).sum / nPasses, "count")
    pl("streaming.state_commit_ms") = (all.map(_.stateCommitMs).sum / nPasses, "ms")
    pl("streaming.state_memory_bytes") = (all.map(_.stateMemory).sum / nPasses, "bytes")
    val layoutPasses = nPasses
    pl("sources.commits") = (ctx.commits / layoutPasses, "count")
    pl("sources.commit_s") = (ctx.commitS.sum / layoutPasses, "s")
    pl("sources.commit_p50_ms") = (median(ctx.commitS.toSeq) * 1e3, "ms")
    pl("sources.snapshot_read_p50_ms") = (median(ctx.readS.toSeq) * 1e3, "ms")
    pl("sources.files_added") = (ctx.filesAdded / layoutPasses, "count")
    pl("sources.files_removed") = (ctx.filesRemoved / layoutPasses, "count")
    pl("sources.bytes_written") = (sumC(_.bytesWritten.toDouble), "bytes")
    pl("sources.read_files") = (ctx.readFiles / layoutPasses, "count")
    pl("trace.overhead_s") = (median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s")

    def obj(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        val x = if (v.isNaN || v.isInfinite) 0.0 else v
        s""""$k":{"value":$x,"unit":"$u"}"""
      }.mkString("{", ",", "}")
    def strs(xs: Seq[String]): String =
      xs.map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"")
        .mkString("[", ",", "]")
    val opsJson = ops.map(o => s"""{"name":"${o.name}","check":"${o.check}","module":"${o.module}"}""")
      .mkString("[", ",", "]")
    val oracle = ops.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _))
      .map { case (k, v) => "\"" + k + "\":" + jsonString(v) }.mkString("{", ",", "}")
    val passJson = passes.map(p => s"""{"wall":${p.wall},"cpu":${p.cpu},"traced":${p.traced}}""").mkString("[", ",", "]")
    val json = s"""{"workload":"$workload","attempted":$attempted,"failed":$failed,""" +
      s""""passes":$passJson,"mismatches":${strs(mismatches)},"errors":${strs(errors)},""" +
      s""""ops":$opsJson,"oracle":$oracle,"end_to_end":${obj(e2e)},"per_layer":${obj(pl)}}"""
    Files.writeString(Paths.get(work, "result.json"), json)
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeSpans(work: String, spans: Spans): Unit = {
    val lines = spans.all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${jsonString(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(Paths.get(work, "spans.jsonl"), lines.asJava)
  }
}
