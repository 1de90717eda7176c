package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.table.MedallionTable

/** Storage census from outside the engine: plain directory listings of
  * the table roots, and the live snapshot written once, compactly, by
  * the benchmark itself as the space-amplification baseline.
  */
object Storage {

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  private def hiddenBelow(root: File, f: File): Boolean =
    root.toPath.relativize(f.toPath).iterator().asScala.exists { seg =>
      val n = seg.toString; n.startsWith("_") || n.startsWith(".")
    }

  def bytesUnder(path: String): Long = files(new File(path)).map(_.length()).sum

  /** For the tables at `roots`: bytes on disk under the roots and their
    * `<root>__graft_commits` directories (commit markers, locks) divided
    * by the bytes of their live snapshots rewritten once as one parquet
    * file each (`space_amp`), plus commit, live-file, live-byte and
    * metadata-file counts. Metadata files are the hidden files under a
    * root and the files of its commit directory, checksums excluded.
    */
  def census(spark: SparkSession, roots: Seq[String], scratch: String): Map[String, Double] = {
    var onDisk = 0L; var compact = 0L; var commits = 0L
    var liveFiles = 0L; var liveBytes = 0L; var metaFiles = 0L
    roots.zipWithIndex.foreach { case (root, i) =>
      val rf = new File(root)
      val all = files(rf)
      val commitDir = files(new File(root + "__graft_commits"))
      onDisk += (all ++ commitDir).map(_.length()).sum
      val (hidden, visible) = all.partition(hiddenBelow(rf, _))
      val data = visible.filter(_.getName.endsWith(".parquet"))
      liveFiles += data.size
      liveBytes += data.map(_.length()).sum
      metaFiles += (hidden ++ commitDir).count(f => !f.getName.endsWith(".crc"))
      val t = MedallionTable(spark, root)
      commits += t.commitVersion
      val out = s"$scratch/t$i"
      t.read.coalesce(1).write.mode("overwrite").parquet(out)
      compact += bytesUnder(out)
    }
    rmrf(scratch)
    Map(
      "space_amp" -> onDisk.toDouble / compact,
      "commits" -> commits.toDouble,
      "files_live" -> liveFiles.toDouble,
      "bytes_live_mb" -> liveBytes / 1048576.0,
      "meta_files" -> metaFiles.toDouble)
  }

  /** Order-independent digest of a keyed result. */
  def digest[K, V](m: Map[K, V]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def rmrf(path: String): Unit = {
    def rec(f: File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).toSeq.flatten.foreach(rec)
      f.delete()
    }
    rec(new File(path))
  }
}
