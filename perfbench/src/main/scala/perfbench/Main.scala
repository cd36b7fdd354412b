package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, trace: Boolean, data: String,
    warm: String, out: String, run: String, cores: Int, passes: Int)

/** The JVM side of the benchmark: the cold set-up, the untimed priming
  * pass, a fixed number of timed passes (one client in a closed loop,
  * one op at a time) and the result file. Metrics and the oracle
  * comparison are computed by `run.py` from that file. The number of
  * timed passes is fixed by `--passes`, never by how fast they run, so
  * every run measures the same ops.
  *
  * Usage: perfbench.Main --workload W --seed N --trace 0|1 --data DIR
  *   --warm DIR --out DIR --run DIR --cores C --passes P */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("trace") == "1", kv("data"),
      kv("warm"), kv("out"), kv("run"), kv("cores").toInt, kv("passes").toInt)
    val workload: Workload = args.workload match {
      case "interactive" => new Interactive
      case "batch" => new Batch
      case "lakehouse" => new Lakehouse
    }

    // set-up: from JVM start until the session is up and the
    // workload's warm-up (one small op on fixed tiny inputs) is done
    val ctx = new Ctx(session(args), args)
    workload.warmup(ctx)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // run.py computes the oracle side of the output check from here,
    // beside the untimed priming; the timed passes wait for it
    Ctx.mapper.writeValue(new File(args.out, "oracle_sql.json"), workload.oracleSql)
    new File(args.out, "setup.done").createNewFile()

    val probe = new StallProbe
    val cal0 = calibration()
    val phases = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    timed("prime_s")(workload.prime(ctx))
    timed("oracle_wait_s")(while (!new File(args.out, "go").exists()) Thread.sleep(20))

    val trace = new Trace
    val rng = new scala.util.Random(args.seed)
    probe.reset()
    val steal0 = stealS()
    val t0 = System.nanoTime()
    val plan = if (args.trace) workload.tracePlan(args.passes) else Seq.fill(args.passes)(false)
    for ((traced, pass) <- plan.zipWithIndex) {
      ctx.traced = traced
      if (ctx.traced) {
        ctx.spark.sparkContext.addSparkListener(trace)
        ctx.spark.listenerManager.register(trace)
      }
      workload.pass(ctx, pass, rng)
      if (ctx.traced) {
        trace.drain()
        ctx.spark.listenerManager.unregister(trace)
        ctx.spark.sparkContext.removeSparkListener(trace)
      }
    }
    val window = (System.nanoTime() - t0) / 1e9
    val stalls = probe.read()
    val steal = stealS() - steal0
    ctx.samples.filter(_.traced).foreach(s => s.events = trace.events(s))
    val finish = timed("finish_s")(workload.finish(ctx))
    val cal1 = calibration()

    Ctx.mapper.writeValue(new File(args.out, "result.json"), Map(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "trace" -> args.trace, "passes" -> plan.size, "window_s" -> window,
      "setup_s" -> setupS, "phases" -> phases, "finish" -> finish,
      "wrong" -> ctx.wrong, "peak_rss_mb" -> peakRssMb(),
      "host" -> Map("calibration_s" -> Seq(cal0, cal1), "stall_s" -> stalls._2,
        "stalls" -> stalls._1, "steal_s" -> steal),
      "samples" -> ctx.samples.map(_.record)))
    ctx.spark.stop()
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${a.run}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread CPU kernel: host speed, for flagging noisy runs. */
  def calibration(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 26)) {
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      x ^= i
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time the hypervisor gave to other guests, all CPUs, from
    * /proc/stat in its 1/100 s ticks (0 where absent). */
  def stealS(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
    } catch { case _: Exception => 0.0 }

  /** The process's peak resident set, from /proc (0 where absent). */
  def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }
}

/** A 10 ms heartbeat thread; a beat late by more than 100 ms counts as
  * a host stall, and the lateness as stolen seconds. */
final class StallProbe {
  private val count = new java.util.concurrent.atomic.AtomicLong
  private val nanos = new java.util.concurrent.atomic.AtomicLong
  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (true) {
      Thread.sleep(10)
      val now = System.nanoTime()
      val late = now - last - 10000000L
      if (late > 100000000L) { count.incrementAndGet(); nanos.addAndGet(late) }
      last = now
    }
  }, "perfbench-stall-probe")
  thread.setDaemon(true)
  thread.start()

  def reset(): Unit = { count.set(0); nanos.set(0) }
  def read(): (Long, Double) = (count.get, nanos.get / 1e9)
}
