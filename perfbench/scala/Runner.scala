package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** JVM side of the benchmark: runs one workload plan against the
  * program's public entry points, one client thread, and writes what it
  * measured as JSON.  The plan is a tab-separated file made by run.py:
  *
  * {{{
  * conf  <key> <value>        Spark session setting
  * set   <key> <value>        scalar setting (trace, data, out, txnroot, txntable)
  * op    <phase> <group> <kind> <name> <class> <payload>
  * }}}
  *
  * Phases run in order: `warm` ops run once untimed (set-up), then
  * `pre`, `loop` and `post` ops once each, timed, in plan order.  The
  * timed part is a fixed amount of work: its length never decides how
  * many ops run.
  * Op kinds:
  *  - `query`: `SparkEntry.queries(payload)(spark, data)` (the build
  *    layer), then a noop-sink write of the frame (plan + exec).  The
  *    frame carries an `observe` digest: row count plus two order-free
  *    hash aggregates, computed in the same pass as the sink.  A `warm`
  *    query writes its result as parquet instead, for the oracle check.
  *  - `sql`: one eager statement (DDL, DML, CALL): all build.
  *  - `read`: `spark.sql(payload)` (build) then `collect()` (plan +
  *    exec); the rows are recorded for the replay check.
  *  - `conf`: sets a session conf (`payload` is key=value); untimed.
  */
object Runner {
  final case class Op(phase: String, group: Int, kind: String, name: String,
    cls: String, payload: String)

  final class Rec(val seq: Int, val op: Op) {
    var start = 0.0; var buildEnd = 0.0; var end = 0.0 // epoch ms
    var build = 0.0; var act = 0.0 // seconds
    var ok = true; var err = ""
    var digest = ""; var rows: Seq[String] = Nil
    var fs: Map[String, Long] = Map.empty
    var opened: Seq[String] = Nil; var live: Seq[String] = Nil
    var commits = 0
  }

  // one clock for every span: epoch milliseconds as a double, advanced
  // by nanoTime so short intervals keep their precision
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val confs = lines.collect { case Seq("conf", k, v) => k -> v }
    val set = lines.collect { case Seq("set", k, v) => k -> v }.toMap
    val ops = lines.collect { case Seq("op", p, g, k, n, c, pl) =>
      Op(p, g.toInt, k, n, c, pl) }.toSeq
    val trace = set("trace") == "1"
    val data = set.getOrElse("data", "")
    val out = set("out")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b = SparkSession.builder().appName("perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val jobs = new JobTrace
    val plans = new PlanTrace
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer[Rec]()
    val nextSeq = new java.util.concurrent.atomic.AtomicInteger(0)

    def digestCols(df: DataFrame) = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }

    def txnVersion(): Int =
      set.get("txnroot").map(graft.sources.TxTable.latestVersion(spark, _)).getOrElse(0)
    var vars = Map.empty[String, String]

    // live heap: old-generation usage after collection, sampled after
    // each timed op and after a full collection that ends the timed part
    // (G1 on JDK 17 updates it on full and mixed collections only)
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.endsWith("Old Gen") && p.isCollectionUsageThresholdSupported)
    var heapPeak = 0L
    def sampleHeap(): Unit = oldGen.foreach { p =>
      heapPeak = math.max(heapPeak, p.getCollectionUsage.getUsed)
    }

    def run(spark: SparkSession, op0: Op, timed: Boolean): Rec = {
      val sc = spark.sparkContext
      val op = op0.copy(payload = vars.foldLeft(op0.payload) {
        case (p, (k, v)) => p.replace(s"{$k}", v) })
      val r = new Rec(nextSeq.getAndIncrement(), op)
      val id = r.seq.toString
      // the traced bookkeeping (commit count, FS counters, files a read
      // opens) is about the main table and the timed ops only
      val book = trace && timed
      val v0 = if (book && op.cls == "write") txnVersion() else 0
      sc.setLocalProperty("perfbench.op", id)
      val fs0 = if (book) CountingFileSystem.snapshot() else Map.empty[String, Long]
      if (book && op.kind == "read") {
        CountingFileSystem.drainOpened(); CountingFileSystem.recordOpens.set(true)
      }
      val obs = Observation(s"d$id")
      r.start = nowMs()
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        sc.setLocalProperty("perfbench.layer", "build")
        op.kind match {
          case "query" =>
            val df = graft.SparkEntry.queries(op.payload)(spark, data)
            t1 = System.nanoTime(); r.buildEnd = nowMs()
            sc.setLocalProperty("perfbench.layer", "exec")
            val h = xxhash64(digestCols(df): _*)
            val w = df.observe(obs, count(lit(1)).as("n"),
              sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x")).write
            if (timed) w.mode("overwrite").format("noop").save()
            else w.mode("overwrite").parquet(s"$out/results/${op.name}")
          case "sql" =>
            spark.sql(op.payload)
            t1 = System.nanoTime(); r.buildEnd = nowMs()
          case "read" =>
            val df = spark.sql(op.payload)
            t1 = System.nanoTime(); r.buildEnd = nowMs()
            sc.setLocalProperty("perfbench.layer", "exec")
            r.rows = df.collect().toSeq.map(_.toSeq.map {
              case null => "NULL"
              case d: java.math.BigDecimal => d.toPlainString
              case v => v.toString
            }.mkString("|"))
        }
      } catch {
        case e: Throwable =>
          r.ok = false
          r.err = e.toString.take(300)
          System.err.println(s"[perfbench] ${op.name} failed: $e")
      }
      val t2 = System.nanoTime()
      r.end = nowMs()
      if (r.buildEnd == 0.0) { r.buildEnd = r.end; t1 = t2 }
      r.build = (t1 - t0) / 1e9
      r.act = (t2 - t1) / 1e9
      // jobs from here on (the checks below) belong to no op
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.layer", null)
      if (r.ok && op.kind == "query") {
        val m = obs.get
        r.digest = Seq("n", "s", "x").map(k => String.valueOf(m.getOrElse(k, "null"))).mkString(":")
      }
      if (book) {
        r.fs = CountingFileSystem.snapshot().map { case (k, v) => k -> (v - fs0(k)) }
        if (op.cls == "write") r.commits = txnVersion() - v0
        if (op.kind == "read") {
          CountingFileSystem.recordOpens.set(false)
          r.opened = CountingFileSystem.drainOpened()
          // live data files: every file a full scan of the table opens
          set.get("txntable").foreach { t =>
            CountingFileSystem.recordOpens.set(true)
            try spark.read.table(t).write.mode("overwrite").format("noop").save()
            finally CountingFileSystem.recordOpens.set(false)
            r.live = CountingFileSystem.drainOpened()
          }
        }
      }
      spark.catalog.clearCache()
      if (timed) sampleHeap()
      recs.synchronized(recs += r)
      r
    }

    def apply(spark: SparkSession, op: Op, timed: Boolean): Unit = op.kind match {
      case "conf" =>
        val Array(k, v) = op.payload.split("=", 2)
        if (v.isEmpty) spark.conf.unset(k) else spark.conf.set(k, v)
      case _ => run(spark, op, timed)
    }

    // set-up: warm groups run side by side, each on its own session (its
    // own confs) and thread; ops within a group run in order.  A group
    // that stops on an error is reported, never skipped silently.
    val warmErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val warm = ops.filter(_.phase == "warm").groupBy(_.group).toSeq.sortBy(_._1)
    val threads = warm.map { case (g, gops) =>
      val t = new Thread(() => {
        try {
          val s = if (warm.size == 1) spark else spark.newSession()
          SparkSession.setActiveSession(s)
          graft.functions.GraftFunctions.register(s)
          gops.foreach(apply(s, _, timed = false))
        } catch {
          case e: Throwable => warmErrors.add(s"warm group $g: $e".take(300))
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    SparkSession.setActiveSession(spark)
    // let the JIT compile queue the warm-up filled drain and start the
    // timed ops on a collected heap
    Thread.sleep(2000)
    System.gc()
    val firstTimed = nowMs()
    val timedFrom = nextSeq.get
    ops.filter(_.phase == "pre").foreach(apply(spark, _, timed = true))
    // the version the `pre` ops left, for time travel in later ops
    vars = Map("v_pre" -> txnVersion().toString)
    // a failed statement leaves the table in a state the later ops were
    // not planned for: stop there (the check counts the failure)
    val rest = ops.filter(o => o.phase == "loop" || o.phase == "post").iterator
    def timedOk = recs.synchronized(recs.forall(r => r.ok || r.seq < timedFrom))
    while (rest.hasNext && timedOk) apply(spark, rest.next(), timed = true)
    System.gc()
    sampleHeap()

    // untimed: the final table as one plain parquet copy (space_amp and
    // the replay check read it)
    set.get("txntable").foreach { t =>
      spark.read.table(t).write.mode("overwrite").parquet(s"$out/final")
    }
    if (trace) {
      // let the listener bus drain: stop when no event arrived for 300 ms
      var last = -1L
      var quiet = 0
      while (quiet < 3) {
        Thread.sleep(100)
        val now = jobs.events.get + plans.events.get
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
    }

    def rec(r: Rec): Map[String, Any] = Map(
      "seq" -> r.seq, "phase" -> r.op.phase, "group" -> r.op.group, "name" -> r.op.name,
      "kind" -> r.op.kind, "cls" -> r.op.cls, "payload" -> r.op.payload,
      "timed" -> (r.seq >= timedFrom), "start" -> r.start, "build_end" -> r.buildEnd,
      "end" -> r.end, "build_s" -> r.build, "act_s" -> r.act, "ok" -> r.ok, "err" -> r.err,
      "digest" -> r.digest, "rows" -> r.rows, "fs" -> r.fs, "opened" -> r.opened,
      "live" -> r.live, "commits" -> r.commits)
    def stage(s: jobs.Stage): Map[String, Any] = {
      val d = s.durations.sorted
      Map("id" -> s.id, "submit" -> s.submit, "complete" -> s.complete, "tasks" -> d.size,
        "failed_tasks" -> s.failedTasks, "max_ms" -> d.lastOption.getOrElse(0L),
        "median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)), "wait_ms" -> s.waitMs,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "in_bytes" -> s.inBytes,
        "in_rows" -> s.inRows, "shuffle_write" -> s.shWrite, "shuffle_read" -> s.shRead,
        "spill" -> s.spill)
    }
    // Scratch artifacts are deleted when the JVM exits: size them now
    val scratchBytes = spark.conf.getOption("spark.graft.scratchDir").map { d =>
      val files = Files.walk(Paths.get(d))
      try files.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally files.close()
    }.getOrElse(0L)
    val result = Map(
      "setup_s" -> (firstTimed - jvmStart) / 1e3,
      "scratch_bytes" -> scratchBytes,
      "heap_live_peak_mb" -> heapPeak / 1048576.0,
      "cores" -> sc.defaultParallelism,
      "warm_errors" -> warmErrors.asScala.toSeq,
      "ops" -> recs.toSeq.sortBy(_.seq).map(rec),
      "jobs" -> jobs.synchronized(jobs.jobs.toSeq.map(x => Map("id" -> x.id, "op" -> x.op,
        "layer" -> x.layer, "start" -> x.start, "end" -> x.end, "stages" -> x.stages))),
      "stages" -> jobs.synchronized(jobs.stages.values.toSeq.map(stage)),
      "qes" -> plans.synchronized(plans.qes.toSeq.map(q => Map("phases" -> q.phases,
        "nodes" -> q.nodes, "exchanges" -> q.exchanges))))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new java.io.File(s"$out/result.json"), result)
    json.writeValue(new java.io.File(s"$out/oracle.json"),
      ops.filter(_.kind == "query").map(_.payload).distinct
        .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    spark.stop()
  }
}
