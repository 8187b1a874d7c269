package perfbench

import java.io.{File, FileDescriptor, FileOutputStream, PrintStream}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints one JSON result line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Untraced (`--trace 0`), it reports the end-to-end metrics. Traced, it
  * alternates traced and untraced operations and reports the per-layer
  * metrics of the traced ones, plus the tracing overhead.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      // Spark's threads can outlive main; a failed run must still end, without a result
      case e: Throwable => e.printStackTrace(); System.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    val out = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err) // the program's own prints must not mix with the result
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val sizes = Sizes()

    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Workload.timed {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$name")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      (if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName) else b)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) Counters.install(spark)
    val tr = new Tracer(spark, trace)

    var attempted = 0L
    var failed = 0L
    def attempt[A](body: => Option[A]): Option[A] = {
      attempted += 1
      val r = try body catch {
        case e: Exception => e.printStackTrace(); None
      }
      if (r.isEmpty) failed += 1
      r
    }
    def sample(w: Workload, i: Int): Option[Sample] = attempt {
      val s = w.op(i, tr)
      if (s.ok) Some(s) else None
    }

    // set-up, several times from scratch; the last one is measured
    val make: String => Workload = root => name match {
      case "etl_daily" => new EtlDaily(spark, seed, root, sizes)
      case "upsert_read" => new UpsertRead(spark, seed, root, sizes)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var w: Workload = null
    val setupTimes = (0 until SetupReps).map { rep =>
      val root = s"$work/state$rep"
      if (rep > 0) deleteTree(new File(s"$work/state${rep - 1}"))
      w = make(root)
      Workload.timed(attempt(if (w.setup()) Some(()) else None))._2
    }
    val (_, warmS) = Workload.timed((0 until w.warmupOps).foreach(i => sample(w, i)))
    val heapSetup = heapAfterGc()
    val outB0 = Counters.snapshot()(Counters.Names.indexOf("out_b"))

    // closed loop, one client: the next operation starts when the last ends
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Sample, Boolean)]
    val t0 = System.nanoTime()
    var i = w.warmupOps
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      tr.enabled = trace && (i - w.warmupOps) % 2 == 0
      tr.op = i
      sample(w, i).foreach(s => samples += s -> tr.enabled)
      tr.enabled = false
      i += 1
    }
    if (attempt(if (w.finalCheck()) Some(()) else None).isEmpty)
      System.err.println(s"$name: final check failed")
    val heap = math.max(heapSetup, heapAfterGc())
    val written = Counters.snapshot()(Counters.Names.indexOf("out_b")) - outB0
    val live = if (trace) w.liveBytes() else 0L
    val rootBytes = Workload.bytesUnder(w.storageRoot)

    val measured = samples.filter(x => !trace || !x._2).map(_._1).toSeq
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(measured, setupS, heap)
      else Layers.perLayer(tr, samples.toSeq, written, rootBytes, live)

    System.err.println(f"$name seed=$seed session_s=$sessionS%.3f setup_reps=${setupTimes.map(t => f"$t%.3f").mkString(",")} " +
      f"warmup_s=$warmS%.3f op_s.tail=${Stats.describe(measured.map(_.opS))} " +
      s"read_s.tail=${Stats.describe(measured.flatMap(_.readS))}")
    System.err.println(s"$name samples op_s=${measured.map(x => f"${x.opS}%.3f").mkString(",")} " +
      s"read_s=${measured.flatMap(_.readS).map(x => f"$x%.3f").mkString(",")}")
    if (trace) tr.writeJsonl(opts.getOrElse("spans", s"$work/spans.jsonl"))
    spark.stop()

    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${json(v)}, "unit": "$u"}""" }
    out.println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    out.flush()
    System.exit(0)
  }

  def endToEnd(s: Seq[Sample], setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    require(s.nonEmpty, "no operation completed")
    val op = s.map(_.opS)
    val reads = s.flatMap(_.readS)
    Seq(
      ("setup_s", setupS, "s"),
      ("op_s.p50", Stats.median(op), "s"),
      ("read_s.p50", Stats.median(reads), "s"),
      ("rows_per_s", s.map(_.rows).sum / op.sum, "rows/s"),
      ("heap_mb", heapMb, "MiB"))
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Old-generation occupancy after a full collection, in MiB. */
  def heapAfterGc(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.contains("Old Gen"))
    val used = if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The 90th percentile with the sample count, for the log. A run holds
    * too few operations for a percentile with ten samples above it, so
    * the tail is not a metric.
    */
  def describe(xs: Seq[Double]): String =
    if (xs.isEmpty) "n=0" else f"p90=${quantile(xs, 0.9)}%.4f(n=${xs.size})"
}
