package graft.model

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem,
  Options, Path}

/** The ONE set of Hadoop-FileSystem metadata helpers every lifecycle
  * module shares ([[TsdbLayout]]'s tier metadata, [[IndexCatalog]]'s
  * manifest, the pipeline stores' staging protocol). Everything goes
  * through the Hadoop FileSystem of the path itself — the filesystem
  * the data uses — so a database or store on HDFS/S3A resolves exactly
  * like a local one.
  *
  * Takes a Hadoop `Configuration` (or an already-resolved
  * `FileSystem`), never a SparkSession, so the Spark-free
  * [[IndexCatalog]] readouts stay Spark-free. Each caller keeps its own
  * choice of filesystem: `raw = true` unwraps the client-side checksum
  * wrapper, which is what an operator-editable text file needs. */
private[graft] object HadoopFiles {

  /** The path's filesystem and the parsed path. `raw = true` unwraps
    * the client-side-checksum wrapper (LocalFileSystem): a `.crc`
    * sidecar would turn every hand edit of a text file into a
    * ChecksumException at the next read. HDFS/S3A handle integrity
    * server-side and pass through as-is. */
  def hfs(conf: Configuration, p: String,
      raw: Boolean = false): (FileSystem, Path) = {
    val hp = new Path(p)
    val fs = hp.getFileSystem(conf) match {
      case c: ChecksumFileSystem if raw => c.getRawFileSystem
      case f => f
    }
    (fs, hp)
  }

  def exists(conf: Configuration, p: String): Boolean = {
    val (f, hp) = hfs(conf, p); f.exists(hp)
  }

  def deleteRecursive(conf: Configuration, p: String): Unit = {
    val (f, hp) = hfs(conf, p); f.delete(hp, true); ()
  }

  /** The directories directly under `root` whose names start with
    * `prefix` — empty when `root` is absent. */
  def listDirs(conf: Configuration, root: String,
      prefix: String): Seq[Path] = {
    val (f, hp) = hfs(conf, root)
    if (!f.exists(hp)) Nil
    else f.listStatus(hp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
  }

  /** A small text file's whole content (UTF-8). */
  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Write bytes at `dst` via `dst+".tmp"` + FileContext's OVERWRITE
    * rename — atomic on local and HDFS (the filesystems with atomic
    * rename), so a crashed write leaves no readable half-file and no
    * window where `dst` is simply gone. */
  def atomicWrite(fs: FileSystem, dst: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(dst.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
