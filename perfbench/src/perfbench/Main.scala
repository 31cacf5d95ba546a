package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload as a single closed-loop client and writes the raw
  * record (set-up times, operations, spans, listener events) as JSON.
  * Metrics and output checks are computed from that record by `run.py`.
  *
  * Usage: `perfbench.Main <plan.json> <result.json>`
  *
  * Untraced (`trace: 0`): set up, run untimed warm-up cycles, then
  * repeat the workload's cycle until `seconds` have passed.
  *
  * Traced (`trace: 1`): the same loop, with the listeners registered for
  * every other pair of cycles only (see [[tracedCycle]]); the untraced
  * cycles in between give the trace overhead without a warm-up bias. The
  * traced run also counts file system calls ([[CountingFileSystem]]). */
object Main {
  /** Cycles 1, 2, 5, 6, 9, ... are traced: pairs, so a pattern of period
    * two in the workload (maintenance every second round) falls evenly on
    * traced and untraced cycles. */
  def tracedCycle(c: Int): Boolean = c % 4 == 1 || c % 4 == 2

  /** A traced run goes on past `seconds` until it has traced two cycles
    * and left one untraced. */
  val MinTracedLoop = 4

  def main(args: Array[String]): Unit = {
    val plan = Json.readFile(args(0))
    val launchedMs = plan("launched_ms").toString.toLong
    val seconds = plan("seconds").toString.toDouble
    val traced = plan("trace").toString == "1"
    val warmupCycles = plan("warmup_cycles").toString.toInt
    val warmupSeconds = plan("warmup_seconds").toString.toDouble
    val cores = plan("cores").toString.toInt
    val ws = plan("workspace").toString

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.local.dir", s"$ws/spark-local")
      .config("spark.sql.warehouse.dir", s"$ws/warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1000.0

    try {
      val wl = Workload(spark, plan)
      val rec = new Recorder(plan("run_id").toString)
      val t0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - t0) / 1e9
      // JIT compilation keeps speeding the cycles up for a while: warm up
      // for at least `warmup_cycles` cycles and `warmup_seconds` seconds
      val warmupS = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (warmupS.size < warmupCycles || warmupS.sum < warmupSeconds) {
        val t = System.nanoTime()
        wl.cycle(-1 - warmupS.size, rec)
        warmupS += (System.nanoTime() - t) / 1e9
      }
      val warmupOps = rec.opsJson
      rec.clear()
      val result = scala.collection.mutable.LinkedHashMap[String, Any](
        "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS,
          "warmup_s" -> warmupS.toList),
        "warmup_ops" -> warmupOps)
      val listeners = if (traced) Some(new Listeners(spark)) else None
      val tracedCycles = scala.collection.mutable.ArrayBuffer.empty[Int]
      var fs = Map.empty[String, Long]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      var c = 0
      var more = true
      rec.span("loop", "loop") {
        while (more && (elapsed < seconds || (traced && c < MinTracedLoop))) {
          val on = traced && Main.tracedCycle(c)
          if (on) { listeners.get.attach(); tracedCycles += c }
          val fs0 = FsStats.snapshot()
          more = rec.span(s"cycle:$c", "cycle")(wl.cycle(c, rec))
          if (on) {
            fs = FsStats.add(fs, FsStats.delta(fs0, FsStats.snapshot()))
            listeners.get.detach()
          }
          if (more) c += 1
        }
      }
      result ++= Seq("cycles" -> c, "wall_s" -> elapsed, "ops" -> rec.opsJson)
      listeners.foreach { l =>
        result ++= Seq("traced_cycles" -> tracedCycles.toList, "spans" -> rec.spansJson,
          "spark" -> l.json, "fs" -> fs)
      }
      result("rss_peak_mb") = Main.vmHwmMb
      result("finish") = wl.finish(traced)
      Json.writeFile(args(1), result)
    } finally spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0) finally src.close()
  }
}
