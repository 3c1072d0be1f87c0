package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry
import graft.operators.{Etl, PartitionCache}
import graft.sources.StorageMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: one JVM, `local[cpus]`, one client thread issuing
  * the workload's ops in a closed loop (each op starts after the previous
  * one returned). Every op is materialized through the `noop` sink.
  *
  *   1. Set-up, three times: a session (the first one also starts the JVM
  *      and the SparkContext; later ones are `newSession()`s, so memo
  *      builds recur) and one untimed warm-up pass over the op set.
  *   2. The output check dump: each checked op's result written once to
  *      parquet, untimed, for the DuckDB comparison.
  *   3. One more untimed warm-up pass.
  *   4. The measured window: whole seeded passes until `seconds` of busy
  *      time have elapsed.
  *   5. Traced runs only: a second window with the [[Tracer]] attached,
  *      the workload's probe ops (traced, then dumped for the check), then
  *      one `count()` per bridged op.
  *
  * Writes its raw measurements as one JSON report; `run.py` turns them
  * into metrics.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <workDir> <cpus> <report>
  */
object Main {
  val Setups = 3

  /** The session configuration, set once and never changed per op. */
  def sessionConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.session.timeZone" -> "UTC")

  /** Context settings: everything the run writes stays under `work`. */
  def contextConf(work: String): Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"$work/hadoop")

  /** What one op returned: wall time, time inside the engine call that
    * returned the result (the rest is materialization), the error if it
    * threw, and CalcAvgLoan's answer. */
  final case class Outcome(ms: Double, callMs: Double, error: Option[String],
                           avg: Option[Long], source: Option[String])

  final case class Record(seq: Int, pass: Int, op: Op, out: Outcome)

  final case class Window(records: Seq[Record], passS: Seq[Double],
                          heapMb: Seq[Double])

  def main(argv: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, sfDir, work, cpusS, report) = argv
    val wl = Workloads.all.getOrElse(wlName,
      throw new IllegalArgumentException(s"unknown workload $wlName"))
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val cacheDir = s"$work/partitions"

    def now = System.nanoTime()
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    def describe(e: Throwable) =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)

    // ---- one op ---------------------------------------------------------------
    def runOp(spark: SparkSession, op: Op): Outcome = {
      val t0 = now
      var callMs = 0.0
      var answer: Option[(Long, String)] = None
      def call(f: => DataFrame): Unit = {
        val df = f
        callMs = ms(t0)
        df.write.format("noop").mode("overwrite").save()
      }
      val err = try {
        op match {
          case Query(name, _) => call(SparkEntry.queries(name)(spark, sfDir))
          case CalcAvg(key, _) =>
            answer = Some(PartitionCache.calcAvg(spark, sfDir, cacheDir, key))
            callMs = ms(t0)
          case BlockLocations => call(StorageMeta.blocksPerHost(spark, sfDir))
          case DbToHdfs => call(Etl.sinkRoundtrip(spark, sfDir))
        }
        None
      } catch { case e: Throwable => Some(describe(e)) }
      Outcome(ms(t0), callMs, err, answer.map(_._1), answer.map(_._2))
    }

    def control(spark: SparkSession, s: Step): Unit = {
      val fs = new Path(cacheDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      s match {
        case Invalidate => fs.delete(new Path(cacheDir), true)
        case Corrupt(key) =>
          fs.listStatus(new Path(s"$cacheDir/l_returnflag=$key")).map(_.getPath)
            .filter(_.getName.startsWith("part-"))
            .foreach { p =>
              val out = fs.create(p, true)
              try out.write("not a parquet file".getBytes("UTF-8"))
              finally out.close()
            }
        case _: Op =>
      }
    }

    // Engine scratch dirs (`graft.util.Scratch`, prefix `graft_`) live
    // until JVM exit. The harness removes the ones an op created as soon
    // as the op has returned, while their pages are still unwritten: on a
    // disk mounted with online discard, deleting written-back files costs
    // seconds and slows whatever runs next. Sweep time is excluded from
    // every timed region.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] =
      Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft_"))
    var sweptNs = 0L
    def sweep(before: Set[String]): Unit = {
      val t0 = now
      (scratch() -- before).foreach { name =>
        val paths = Files.walk(tmp.toPath.resolve(name))
        try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
      sweptNs += now - t0
    }

    /** Run the steps of one pass; returns the ops' records and the pass's
      * busy seconds (sweeps excluded). */
    var seq = 0
    def runPass(spark: SparkSession, steps: Seq[Step], pass: Int,
                tracer: Option[Tracer]): (Seq[Record], Double) = {
      val t0 = now
      val swept0 = sweptNs
      val records = steps.flatMap {
        case op: Op =>
          seq += 1
          val before = scratch()
          tracer.foreach(_.begin(seq.toString))
          val out = runOp(spark, op)
          tracer.foreach(_.end(seq.toString, out.callMs))
          sweep(before)
          Some(Record(seq, pass, op, out))
        case s =>
          control(spark, s)
          None
      }
      (records, (now - t0 - (sweptNs - swept0)) / 1e9)
    }

    // ---- set-up -------------------------------------------------------------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.Buffer.empty[Double]
    val setupErrors = mutable.Buffer.empty[String]
    var memoBuilds: Seq[(String, Double)] = Nil
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val t0 = now
      spark =
        if (i == 0) {
          val b = SparkSession.builder().master(s"local[$cpus]")
          contextConf(work).foreach { case (k, v) => b.config(k, v) }
          if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
          val s = b.getOrCreate()
          s.sparkContext.setLogLevel("WARN")
          s
        } else spark.newSession()
      sessionConf(cpus).foreach { case (k, v) => spark.conf.set(k, v) }
      // Each session stages its own ANN index, so no set-up opens one an
      // earlier set-up built.
      spark.conf.set("graft.ann.indexDir", s"$work/annindex-$i")
      graft.util.SessionMemo.drainBuildLog()
      val swept0 = sweptNs
      val (records, _) = runPass(spark, wl.warmup, -1, None)
      records.foreach(r => r.out.error.foreach(e => setupErrors += s"${r.op.name}: $e"))
      memoBuilds = graft.util.SessionMemo.drainBuildLog()
      val wallMs = if (i == 0) System.currentTimeMillis() - jvmStartMs else ms(t0)
      setupS += (wallMs - (sweptNs - swept0) / 1e6) / 1000.0
    }

    // ---- output check dump (untimed) -----------------------------------------
    val checkDir = s"$work/check"
    def dump(names: Seq[String]): Map[String, String] = names.flatMap { name =>
      val before = scratch()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$checkDir/$name")
        None
      } catch { case e: Throwable => Some(name -> describe(e)) }
      finally sweep(before)
    }.toMap
    val phaseS = mutable.LinkedHashMap("setup" -> setupS.sum)
    var phase0 = now
    def phaseEnd(name: String): Unit = {
      phaseS(name) = (now - phase0) / 1e9
      phase0 = now
    }
    var checkErrors = dump(wl.checked)
    phaseEnd("dump")

    // ---- warm-up (untimed) ----------------------------------------------------
    runPass(spark, wl.warmup, -1, None)._1
      .foreach(r => r.out.error.foreach(e => setupErrors += s"${r.op.name}: $e"))
    phaseEnd("warmup")

    // ---- measured windows ---------------------------------------------------
    val memBean = ManagementFactory.getMemoryMXBean
    var passIndex = 0

    /** Whole passes until `seconds` of busy time. */
    def window(tracer: Option[Tracer]): Window = {
      val records = mutable.Buffer.empty[Record]
      val heap = mutable.Buffer.empty[Double]
      val passS = mutable.Buffer.empty[Double]
      while (passS.isEmpty || passS.sum < seconds) {
        val (rs, busyS) = runPass(spark, wl.pass(seed, passIndex), passIndex, tracer)
        records ++= rs
        passS += busyS
        passIndex += 1
        // Retained heap, read between passes (outside the busy time). The
        // pause lets the context cleaner drop the blocks of collected
        // broadcasts and shuffles before the second collection.
        System.gc(); Thread.sleep(100); System.gc()
        heap += memBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      Window(records.toSeq, passS.toSeq, heap.toSeq)
    }

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = osBean.getProcessCpuTime
    val plain = window(None)
    phaseEnd("window")
    val windowCpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    var tracedWindow: Option[Window] = None
    var probeRecords: Seq[Record] = Nil
    var ledgers: Map[String, Map[String, Double]] = Map.empty
    var totals: Map[String, Double] = Map.empty
    if (traced) {
      val tracer = new Tracer(spark)
      tracer.attach()
      tracedWindow = Some(window(Some(tracer)))
      probeRecords = runPass(spark, wl.probes, -1, Some(tracer))._1
      tracer.detach()
      checkErrors ++= dump(probeRecords.map(_.op.name))
      ledgers = tracer.ledgers()
      totals = tracer.totals.snapshot
      phaseEnd("traced")
    }

    // ---- count() bridge (traced runs, untraced) -------------------------------
    val bridge = if (!traced) Map.empty[String, Double] else
      wl.bridged.map { name =>
        val t0 = now
        SparkEntry.queries(name)(spark, sfDir).count()
        name -> ms(t0)
      }.toMap

    val checked = wl.checked ++ probeRecords.map(_.op.name)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }

    def recordJson(r: Record): Map[String, Any] = Map(
      "seq" -> r.seq, "pass" -> r.pass, "op" -> r.op.name, "cls" -> r.op.cls,
      "ms" -> r.out.ms, "call_ms" -> r.out.callMs, "error" -> r.out.error,
      "key" -> (r.op match { case CalcAvg(k, _) => Some(k); case _ => None }),
      "expect" -> (r.op match { case CalcAvg(_, e) => Some(e); case _ => None }),
      "avg" -> r.out.avg, "source" -> r.out.source)
    def windowJson(w: Window): Map[String, Any] = Map(
      "pass_s" -> w.passS, "heap_after_gc_mb" -> w.heapMb,
      "ops" -> w.records.map(recordJson))

    val out = Map(
      "workload" -> wl.name, "seed" -> seed, "cpus" -> cpus, "sf_dir" -> sfDir,
      "conf" -> (sessionConf(cpus) ++ contextConf(work)).toMap,
      "setup_s" -> setupS.toSeq, "setup_errors" -> setupErrors.toSeq,
      "setup_memo_builds" -> memoBuilds.map { case (k, s) => Map("key" -> k, "s" -> s) },
      "window" -> windowJson(plain),
      "traced_window" -> tracedWindow.map(windowJson),
      "probe_ops" -> probeRecords.map(recordJson),
      "ledgers" -> ledgers, "totals" -> totals,
      "bridge_count_ms" -> bridge,
      "check_dir" -> checkDir, "check_errors" -> checkErrors,
      "oracle_sql" -> oracle, "phase_s" -> phaseS, "sweeps_s" -> sweptNs / 1e9,
      "window_cpu_s" -> windowCpuS)
    Files.writeString(Paths.get(report),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    // Results are on disk; `run.py` removes the work directory, so skip
    // the slow orderly shutdown of the context.
    Runtime.getRuntime.halt(0)
  }
}
