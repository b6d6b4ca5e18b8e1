package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  FileSystem, LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem,
  RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** A timed region of the benchmark harness: one public-API call or one op.
  * Times are wall-clock milliseconds so harness spans and listener events
  * share one clock. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long)

/** In-memory span recorder. Disabled, or switched off between traced
  * rounds, every call is a plain pass-through: no allocation, no clock
  * reads beyond the op timer the harness keeps anyway. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  /** records spans now (traced rounds of a traced run) */
  var on: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.currentTimeMillis()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, System.currentTimeMillis())
      }
    }
}

/** Spark jobs with their call site and task-metric totals, collected by a
  * listener the benchmark registers on the session — nothing inside the
  * program is instrumented. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val callSite: String,
      val execution: Option[String]) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0L
    var taskFailures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var waitMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
  }
  val jobs = ArrayBuffer.empty[Job]
  private val byId = scala.collection.mutable.HashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage is named after the job's call site
    // ("count at Pipelines.scala:49")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    // nested executions (broadcasts, subqueries) carry their root's id
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
    val j = new Job(e.jobId, e.time, site, exec)
    jobs += j; byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        // scheduler delay: task wall time not spent deserialising, running
        // or shipping the result
        j.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }
  def snapshot: Seq[Job] = synchronized(jobs.toList)
}

/** `file://` with call counters — installed as `fs.file.impl` in traced
  * runs only, so the untraced runs use the stock local file system; it
  * counts only while `counting` is on (the traced rounds). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (counting) opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (counting) creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (counting) lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    if (counting) lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    if (counting) lists.incrementAndGet(); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (counting) stats.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val opens, creates, lists, stats = new AtomicLong(0L)
  @volatile var counting: Boolean = false
}

/** Point-in-time counters read at op boundaries; deltas between two
  * snapshots attribute FS traffic and graft's public counters to one op. */
final case class Counters(bytesRead: Long, bytesWritten: Long, opens: Long,
    creates: Long, lists: Long, stats: Long, manifestParses: Long,
    statsDataScans: Long) {
  def -(o: Counters): Counters = Counters(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, opens - o.opens, creates - o.creates,
    lists - o.lists, stats - o.stats, manifestParses - o.manifestParses,
    statsDataScans - o.statsDataScans)
}

object Counters {
  /** Bytes come from Hadoop's own per-scheme statistics, kept in every
    * run; the call counters only move when the counting FS is installed. */
  @annotation.nowarn("cat=deprecation")
  def now(): Counters = {
    val st = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
    import CountingLocalFileSystem._
    Counters(st.getBytesRead, st.getBytesWritten, opens.get, creates.get,
      lists.get, stats.get, graft.table.GraftTable.manifestParses.get,
      graft.table.GraftTable.statsDataScans.get)
  }
}

/** Maps a job's call site ("count at Pipelines.scala:49") to the
  * graft module whose source file it names; the file → module table is
  * read from the checkout's source tree. */
final class ModuleMap(srcRoot: java.io.File, benchRoot: java.io.File) {
  private val benchFiles: Set[String] =
    Option(new java.io.File(benchRoot, "lakebench").list()).getOrElse(Array.empty).toSet
  private val byFile: Map[String, String] = {
    val graftDir = new java.io.File(srcRoot, "graft")
    val top = Option(graftDir.listFiles()).getOrElse(Array.empty)
    top.flatMap { f =>
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".scala")).map(_.getName -> f.getName)
      else if (f.getName.endsWith(".scala")) Array(f.getName -> "graft")
      else Array.empty[(String, String)]
    }.toMap
  }
  def moduleOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("")
      .split(':').headOption.getOrElse("")
    byFile.getOrElse(file, if (benchFiles.contains(file)) "bench" else "other")
  }

  /** module per job id. A job whose call site is inside Spark (jobs run
    * on Spark's own threads) takes the module of a job of the same SQL
    * execution whose call site is known, else the layer of the innermost
    * benchmark span (one public call) it started in. */
  def assign(jobs: Seq[JobListener#Job], spans: Seq[Span]): Map[Int, String] = {
    val direct = jobs.map(j => j.id -> moduleOf(j.callSite)).toMap
    val byExec = jobs.filter(j => j.execution.isDefined && direct(j.id) != "other")
      .groupBy(_.execution.get).map { case (e, js) => e -> direct(js.minBy(_.id).id) }
    val calls = spans.filterNot(_.name.startsWith("op:"))
    def bySpan(j: JobListener#Job) = calls
      .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption
      .map(_.name.takeWhile(_ != '.'))
    jobs.map { j =>
      j.id -> (if (direct(j.id) != "other") direct(j.id)
               else j.execution.flatMap(byExec.get).orElse(bySpan(j)).getOrElse("other"))
    }.toMap
  }
}
