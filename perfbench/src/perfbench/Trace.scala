package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide work counters, fed from outside the program: a
  * SparkListener, a QueryExecutionListener and a counting `file://`
  * file system. A span reads them as a difference between its ends.
  */
object Counters {
  val Names: Vector[String] = Vector(
    "jobs", "tasks", "task_ms", "shuffle_b", "out_b", "plan_ns",
    "fs_open", "fs_create", "fs_rename", "fs_delete", "fs_list", "fs_status",
    "out_files", "log_reads")
  private val adders = Names.map(_ => new LongAdder)
  private val index = Names.zipWithIndex.toMap

  def add(name: String, n: Long = 1L): Unit = adders(index(name)).add(n)
  def snapshot(): Vector[Long] = adders.map(_.sum())

  /** One finished job: wall interval (ms) and the graft file at its call site. */
  final case class Job(startMs: Long, endMs: Long, site: String)
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val running = new ConcurrentHashMap[Int, (Long, String)]()

  private val sqlSites = new ConcurrentHashMap[Long, String]()

  /** "count at Pipeline.scala:155" → "Pipeline"; else the first Scala frame of a stack. */
  def siteFile(callSite: String): String = {
    val s = String.valueOf(callSite)
    """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.findFirstMatchIn(s)
      .orElse("""\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r.findFirstMatchIn(s))
      .map(_.group(1)).getOrElse("other")
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // jobs of a SQL execution run on pool threads; its start event carries the action's site
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(siteFile(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name))
      running.put(e.jobId, (e.time, site))
      add("jobs")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach { case (t0, site) =>
        jobs.add(Job(t0, e.time, site))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val d = siteFile(x.description)
        sqlSites.put(x.executionId, if (d != "other") d else siteFile(x.details))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks")
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("shuffle_b", m.shuffleWriteMetrics.bytesWritten)
        add("out_b", m.outputMetrics.bytesWritten)
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      add("plan_ns", qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
  }
}

/** `file://` with every call the program makes counted by kind. It wraps
  * the stock checksummed local file system, so the program sees the same
  * behaviour; it is installed through `spark.hadoop.fs.file.impl`.
  * Commits the program makes through java.nio are not seen here.
  */
class CountingLocalFs extends FilterFileSystem(new LocalFileSystem()) {
  import Counters.add

  override def getScheme: String = "file"

  private def opened(f: Path): Unit = {
    add("fs_open")
    if (f.toString.contains("/_graft_manifest/")) add("log_reads")
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened(f); super.open(f, bufferSize)
  }

  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    opened(f); super.openFile(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    add("fs_create")
    if (f.getName.startsWith("part-")) add("out_files")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { add("fs_rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    add("fs_delete"); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = { add("fs_list"); super.listStatus(f) }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    add("fs_list"); super.listStatusIterator(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    add("fs_list"); super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = { add("fs_status"); super.getFileStatus(f) }
}

/** One call the benchmark made into the program, with the counter deltas over it. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String,
    startMs: Long, endMs: Long, wallS: Double, counters: Map[String, Long]) {
  def get(k: String): Double = counters.getOrElse(k, 0L).toDouble
}

/** Spans recorded around the benchmark's own calls into the program.
  * Disabled, a span is just its body: no bus drain, no record. In a
  * traced run, an `always` span is recorded even between traced
  * operations, for work too rare to sample every other time.
  */
final class Tracer(spark: SparkSession, tracedRun: Boolean) {
  var enabled = false
  var op = 0
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0

  private def drain(): Unit = BusDrain(spark.sparkContext)

  def apply[A](name: String, always: Boolean = false)(body: => A): A =
    if (!enabled && !(always && tracedRun)) body
    else {
      drain()
      val c0 = Counters.snapshot()
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - ns0) / 1e9
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        drain()
        val c1 = Counters.snapshot()
        val diff = Counters.Names.indices.map(i => Counters.Names(i) -> (c1(i) - c0(i))).toMap
        val fsOps = diff.collect { case (k, v) if k.startsWith("fs_") => v }.sum
        val inJobs = jobsWithin(ms0, ms1)
        val covered = unionMs(inJobs.map(j => (math.max(j.startMs, ms0), math.min(j.endMs, ms1))))
        val gapMs = math.max(0L, (ms1 - ms0) - covered)
        val bySite = inJobs.groupMapReduce(j => s"jobs_ms.${j.site}")(j => j.endMs - j.startMs)(_ + _)
        spans += Span(id, parent, op, name, ms0, ms1, wall,
          diff ++ bySite + ("fs_ops" -> fsOps) + ("gap_ms" -> gapMs))
      }
    }

  private def jobsWithin(ms0: Long, ms1: Long): Seq[Counters.Job] =
    Counters.jobs.asScala.filter(j => j.endMs >= ms0 && j.startMs <= ms1).toSeq

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Span duration not covered by its children. */
  def selfS(s: Span): Double =
    s.wallS - spans.iterator.filter(_.parent == s.id).map(_.wallS).sum

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""self_s":${selfS(s)},"counters":{$cs}}""")
    }
    finally w.close()
  }
}
