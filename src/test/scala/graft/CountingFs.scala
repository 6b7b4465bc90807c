package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, FutureDataInputStreamBuilder, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local filesystem under the `countfs` scheme that counts every file
  * open, file create and directory listing by path, for specs that pin
  * what an operation touches. A store reaches it through its
  * namespace's storage options ([[CountingFs.options]]): the scheme
  * resolves only through `fs.countfs.impl`, so a read or write that
  * drops the namespace's options fails instead of passing silently.
  *
  * With `graft.countfs.fatalStagedOpens` set, opens of STAGED parquet
  * files (the store's per-file footer reads during an install) die of
  * a fatal error, as an OOM in the middle of an install would; with
  * `graft.countfs.fatalStagedCreates`, so do creates of them (the
  * writer's file creates). With `graft.countfs.failRenamesTo` set to a
  * suffix, every rename to a name ending in it returns false, as a
  * rename the store refuses does.
  */
class CountingFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  // plain copies: a local status loads its permissions lazily through
  // java.io.File, which refuses the countfs scheme, and a recursive
  // listFiles asks every status for them
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(st => new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath))
}) {
  private var fatalStagedOpens = false
  private var fatalStagedCreates = false
  private var failRenamesTo: Option[String] = None

  override def getScheme: String = CountingFs.Uri.getScheme

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fatalStagedOpens = conf.getBoolean(CountingFs.FatalStagedOpens, false)
    fatalStagedCreates = conf.getBoolean(CountingFs.FatalStagedCreates, false)
    failRenamesTo = Option(conf.get(CountingFs.FailRenamesTo))
  }

  private def staged(p: Path): Boolean =
    p.toString.contains("/.stage/") && p.getName.endsWith(".parquet")

  private def opened(p: Path): Unit = {
    if (fatalStagedOpens && staged(p)) throw new CountingFs.InjectedFatal("opening", p)
    CountingFs.count(CountingFs.opens, p)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (fatalStagedCreates && staged(f)) throw new CountingFs.InjectedFatal("creating", f)
    CountingFs.count(CountingFs.creates, f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened(f)
    super.open(f, bufferSize)
  }
  override def openFile(path: Path): FutureDataInputStreamBuilder = {
    opened(path)
    super.openFile(path)
  }
  override def rename(src: Path, dst: Path): Boolean =
    !failRenamesTo.exists(dst.getName.endsWith) && super.rename(src, dst)

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.count(CountingFs.lists, f)
    super.listStatus(f)
  }
}

object CountingFs {
  val Uri: URI = URI.create("countfs:///")
  val FatalStagedOpens = "graft.countfs.fatalStagedOpens"
  val FatalStagedCreates = "graft.countfs.fatalStagedCreates"
  val FailRenamesTo = "graft.countfs.failRenamesTo"

  final class InjectedFatal(what: String, p: Path)
    extends VirtualMachineError(s"injected fatal error $what $p")

  private val opens = new ConcurrentHashMap[String, AtomicInteger]()
  private val creates = new ConcurrentHashMap[String, AtomicInteger]()
  private val lists = new ConcurrentHashMap[String, AtomicInteger]()

  private def count(m: ConcurrentHashMap[String, AtomicInteger], p: Path): Unit = {
    m.computeIfAbsent(p.toUri.getPath, _ => new AtomicInteger()).incrementAndGet()
    ()
  }

  /** Storage options that route a namespace through this filesystem.
    * The cache stays off so every handle is built from the options of
    * the store asking for it. */
  def options(
      fatalStagedOpens: Boolean = false,
      fatalStagedCreates: Boolean = false,
      failRenamesTo: Option[String] = None): Map[String, String] =
    Map("fs.countfs.impl" -> classOf[CountingFs].getName,
      "fs.countfs.impl.disable.cache" -> "true") ++
      (if (fatalStagedOpens) Map(FatalStagedOpens -> "true") else Map.empty) ++
      (if (fatalStagedCreates) Map(FatalStagedCreates -> "true") else Map.empty) ++
      failRenamesTo.map(FailRenamesTo -> _)

  /** `dir` (a local path) as a `countfs` URL. */
  def url(dir: String): String = s"countfs://$dir"

  private def under(m: ConcurrentHashMap[String, AtomicInteger], dir: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    m.asScala.collect { case (p, n) if p.startsWith(dir) => p -> n.get }.toMap
  }

  /** Opens per path below local directory `dir` during `body`. */
  def opensDuring[T](dir: String)(body: => T): (T, Map[String, Int]) =
    during(opens, dir)(body)

  /** File creates per path below local directory `dir` during `body`. */
  def createsDuring[T](dir: String)(body: => T): (T, Map[String, Int]) =
    during(creates, dir)(body)

  /** Listings per path below local directory `dir` during `body`. */
  def listsDuring[T](dir: String)(body: => T): (T, Map[String, Int]) =
    during(lists, dir)(body)

  private def during[T](m: ConcurrentHashMap[String, AtomicInteger], dir: String)(
      body: => T): (T, Map[String, Int]) = {
    val before = under(m, dir)
    val out = body
    (out, under(m, dir).map { case (p, n) => p -> (n - before.getOrElse(p, 0)) }.filter(_._2 > 0))
  }
}
