package graft.catalog

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage layer for all data-file I/O, on the Hadoop FileSystem API so a
  * lake's `data_path` can be any supported scheme — local paths, file:/,
  * hdfs://, s3a://… (the reference runs its suite against both local FS
  * and minio/S3 — test/configs/minio.json, test/sql/cloud/).
  *
  * Serializable so executor-side writers (deletion-vector blobs, per-file
  * delete parquet) can resolve the same root: only the root string
  * travels; the FileSystem handle is re-acquired lazily per JVM from the
  * default Hadoop configuration (executors carry the cluster conf).
  *
  * Staged files are moved to their final names with rename — atomic on
  * local FS/HDFS; object-store roots would write final names directly
  * (same caveat as the reference's ducklake_storage notes).
  */
final class LakeIO(val root: String) extends Serializable {

  @transient private lazy val conf = new Configuration()
  @transient private lazy val rootPath: Path = {
    val p = new Path(root)
    p.getFileSystem(conf).makeQualified(p)
  }
  @transient private lazy val fs: FileSystem = rootPath.getFileSystem(conf)

  /** lake-relative path → Path ("" = the root itself) */
  private def p(rel: String): Path =
    if (rel.isEmpty) rootPath else new Path(rootPath, rel)

  /** absolute path string for a lake-relative path (Hadoop Path form —
    * what Spark readers/writers accept) */
  def abs(rel: String): String = p(rel).toString

  /** fully-qualified URI form matching Spark's `_metadata.file_path`
    * rendering (scheme + single slash on local FS) */
  def absUri(rel: String): String =
    fs.makeQualified(new Path(rootPath, rel)).toString

  /** lake-relative form of an absolute URI/path under the root */
  def relativize(absPath: String): String = {
    val q = fs.makeQualified(new Path(new URI(absPath))).toUri.getPath
    val r = rootPath.toUri.getPath.stripSuffix("/")
    q.stripPrefix(r).stripPrefix("/")
  }

  def mkdirs(rel: String): Unit = { fs.mkdirs(new Path(rootPath, rel)): Unit }

  /** Parquet row-group count from the file footer alone (format v1.1
    * `row_group_count` catalog column; reference row_group_count.test).
    * `srcAbs` is an absolute URI in the form [[move]] takes. Callable on
    * executors — only the root string travels. */
  def rowGroupCount(srcAbs: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(new URI(srcAbs)), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.size.toLong finally r.close()
  }

  def mkdirsRoot(): Unit = { fs.mkdirs(rootPath): Unit }

  def exists(rel: String): Boolean = fs.exists(new Path(rootPath, rel))

  def size(rel: String): Long =
    fs.getFileStatus(new Path(rootPath, rel)).getLen

  def delete(rel: String): Boolean =
    fs.delete(new Path(rootPath, rel), false)

  def deleteRecursively(rel: String): Boolean =
    fs.delete(new Path(rootPath, rel), true)

  /** rename src (absolute Path string) to the lake-relative dst */
  def move(srcAbs: String, dstRel: String): Unit = {
    val dst = new Path(rootPath, dstRel)
    val parent = dst.getParent
    if (parent != null) fs.mkdirs(parent)
    if (!fs.rename(new Path(new URI(srcAbs)), dst))
      throw new java.io.IOException(s"rename $srcAbs -> $dst failed")
  }

  /** copy an external file (its own scheme) into the lake */
  def copyIn(srcAny: String, dstRel: String): Unit = {
    val src = new Path(srcAny)
    val dst = new Path(rootPath, dstRel)
    org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, fs, dst,
      false /* deleteSource */, false /* overwrite */, conf): Unit
  }

  def write(rel: String, bytes: Array[Byte]): Unit = {
    val p = new Path(rootPath, rel)
    val parent = p.getParent
    if (parent != null) fs.mkdirs(parent)
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  def readAllBytes(rel: String): Array[Byte] = {
    val p = new Path(rootPath, rel)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf)
    finally in.close()
    buf
  }

  /** names of the direct children of a lake-relative directory */
  def list(rel: String): Seq[String] = {
    val d = p(rel)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
  }

  /** lake-relative paths of every FILE under `rel`, recursive — covers
    * hive partition subdirectories (orphan sweep parity with the
    * reference's `read_blob(DATA_PATH || '**')` glob). */
  def listRecursive(rel: String): Seq[String] = {
    val d = p(rel)
    if (!fs.exists(d)) Nil
    else {
      val it = fs.listFiles(d, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += relativize(it.next().getPath.toString)
      buf.toSeq
    }
  }

  /** how many FILES with the given suffix exist under `rel`, recursive —
    * no path relativization (hive partition dirs may contain literal
    * spaces that java.net.URI rejects; Hadoop's own iterator is fine) */
  def countFilesRecursive(rel: String, suffix: String): Int = {
    val d = p(rel)
    if (!fs.exists(d)) return 0
    val it = fs.listFiles(d, true)
    var n = 0
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(suffix)) n += 1
    n
  }

  /** absolute paths of the direct children that are files */
  def listFiles(rel: String): Seq[String] = {
    val d = p(rel)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.toString)
  }
}
