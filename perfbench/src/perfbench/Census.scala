package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem that counts the calls made through it: listings,
  * opens for read, and metadata/data writes (create, rename, delete,
  * mkdirs). Installed as `fs.file.impl` in traced runs only, so untraced
  * runs keep the filesystem users get.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import Census.{bump, LIST, READ, STAT, WRITE}

  override def listStatus(f: Path): Array[FileStatus] = { bump(LIST); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    bump(LIST); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    bump(LIST); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = { bump(STAT); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    bump(READ); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    bump(WRITE)
    Census.createdThroughHadoop(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump(WRITE); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { bump(WRITE); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    bump(WRITE); super.mkdirs(f, permission)
  }
}

/** One listener observation, stamped with the wall-clock millisecond the
  * work happened at (job start, task finish, Catalyst phase start).
  */
final case class Ev(tMs: Long, kind: Int, value: Double)

/** The census: Spark scheduler events, Catalyst phase times and
  * filesystem call counts, all observed from outside the engine.
  */
object Census {
  val LIST = 0; val READ = 1; val WRITE = 2; val STAT = 3
  private val fsCalls = Array.fill(4)(new AtomicLong())
  private[perfbench] def bump(i: Int): Unit = fsCalls(i).incrementAndGet()

  /** [list, read, write, stat, bytesRead, bytesWritten, commitDirCreates]
    * right now. The write count and bytes include the commit-directory
    * files seen so far by [[scanCommitDirs]]; the last element counts
    * those alone.
    */
  def fsSnapshot(): Array[Long] = synchronized {
    scanCommitDirs()
    var br = 0L; var bw = 0L
    FileSystem.getAllStatistics.asScala.foreach { s =>
      if (s.getScheme == "file") { br += s.getBytesRead; bw += s.getBytesWritten }
    }
    Array(fsCalls(0).get, fsCalls(1).get, fsCalls(2).get + metaCreates, fsCalls(3).get,
      br, bw + metaBytes, metaCreates)
  }

  // The engine creates commit markers and writer locks in each table's
  // `<root>__graft_commits` directory with java.io on the local
  // filesystem, past Hadoop's FileSystem and its statistics. They are
  // counted from outside instead: the directories are listed at every
  // snapshot, and a file not seen at the previous one counts as one
  // write of its length. Files created through the counting filesystem
  // are skipped (already counted). A lock created and removed between
  // two snapshots is not seen; its removal goes through Hadoop and is
  // counted as a delete.
  private val hadoopCreated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[perfbench] def createdThroughHadoop(f: Path): Unit =
    if (f.toUri.getPath.contains("__graft_commits")) hadoopCreated.add(f.toUri.getPath)
  private var commitDirs: Seq[java.io.File] = Nil
  private var seen: Set[String] = Set.empty
  private var metaCreates = 0L
  private var metaBytes = 0L

  private def commitFiles(): Seq[java.io.File] =
    commitDirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isFile && !f.getName.endsWith(".crc"))

  /** Watch the commit directories of the tables at `roots` from now on;
    * files already there are not counted.
    */
  def watchTables(roots: Seq[String]): Unit = synchronized {
    commitDirs = roots.map(r => new java.io.File(r + "__graft_commits"))
    seen = commitFiles().map(_.getPath).toSet
  }

  private def scanCommitDirs(): Unit = {
    val now = commitFiles()
    now.foreach { f =>
      if (!seen(f.getPath) && !hadoopCreated.contains(f.getPath)) {
        metaCreates += 1; metaBytes += f.length()
      }
    }
    seen = now.map(_.getPath).toSet
  }

  // event kinds
  val JOB = 0; val STAGE = 1; val TASK = 2; val TASK_RUN_MS = 3; val SHUFFLE_WRITE = 4
  val ANALYSIS_MS = 5; val OPTIMIZATION_MS = 6; val PLANNING_MS = 7
  val NKINDS = 8

  private val events = mutable.ArrayBuffer[Ev]()
  private def add(e: Ev): Unit = events.synchronized { events += e }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Ev(e.time, JOB, 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add(Ev(i.submissionTime.orElse(i.completionTime).getOrElse(0L), STAGE, 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = e.taskInfo.finishTime
      add(Ev(t, TASK, 1))
      Option(e.taskMetrics).foreach { m =>
        add(Ev(t, TASK_RUN_MS, m.executorRunTime.toDouble))
        add(Ev(t, SHUFFLE_WRITE, m.shuffleWriteMetrics.bytesWritten.toDouble))
      }
    }
  }

  private object Qel extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        val kind = name match {
          case "analysis" => ANALYSIS_MS
          case "optimization" => OPTIMIZATION_MS
          case "planning" => PLANNING_MS
          case _ => -1
        }
        if (kind >= 0) add(Ev(p.startTimeMs, kind, p.durationMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private var installedOn: Option[SparkSession] = None

  /** Register the listeners once per session (the idempotent `setup`
    * pattern: a second call on the same session adds nothing).
    */
  def setup(spark: SparkSession): Unit = synchronized {
    if (!installedOn.contains(spark)) {
      spark.sparkContext.addSparkListener(Listener)
      spark.listenerManager.register(Qel)
      installedOn = Some(spark)
    }
  }

  /** Wait until every posted listener event has been delivered, then
    * hand back everything observed so far.
    */
  def drained(spark: SparkSession): Seq[Ev] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    events.synchronized(events.toList)
  }

  /** Attribute each event to the innermost span open at its time stamp:
    * the latest-started span at or before the event whose end is not
    * before it. Returns per-span sums indexed by event kind; events
    * outside every span are dropped (they belong to set-up).
    */
  def attribute(spans: Seq[Span], evs: Seq[Ev]): Array[Array[Double]] = {
    val out = Array.fill(spans.size)(new Array[Double](NKINDS))
    if (spans.isEmpty) return out
    val starts = spans.map(_.wallStartMs).toArray
    evs.foreach { e =>
      var i = java.util.Arrays.binarySearch(starts, e.tMs)
      if (i < 0) i = -i - 2
      else while (i + 1 < starts.length && starts(i + 1) == e.tMs) i += 1
      var s = if (i >= 0) spans(i) else null
      while (s != null && s.wallEndMs < e.tMs)
        s = if (s.parent >= 0) spans(s.parent) else null
      if (s != null) out(s.id)(e.kind) += e.value
    }
    out
  }
}
