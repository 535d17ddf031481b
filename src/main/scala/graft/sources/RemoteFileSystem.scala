package graft.sources

import java.io.{FileNotFoundException, FilterOutputStream, IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The Hadoop `FileSystem` shell under graft's remote schemes
  * (`gftp://`, `gftps://`, `gsftp://`): credentials, paths, the
  * existence and parent-directory rules of `create`, recursive
  * `delete`, and stream ownership live here once; a protocol supplies
  * only its connection verbs over one connection type `C`.
  *
  * Every FileSystem call connects once and does all its work on that
  * connection — the stat behind `open`/`append`/`listStatus`, the
  * parent directories behind `create`, the stream itself. A stream
  * owns its connection and closes it when it closes.
  *
  * Credentials resolve from the URI userinfo first, then
  * `fs.<scheme>.user` / `fs.<scheme>.password`; the port from the URI,
  * then `fs.<scheme>.port`, then the protocol's `getDefaultPort`.
  */
abstract class RemoteFileSystem[C <: AutoCloseable] extends FileSystem {
  import RemoteFileSystem.Entry

  private var uri: URI = _
  protected var host: String = _
  protected var port: Int = _
  protected var user: String = "anonymous"
  protected var password: String = ""
  private var workingDir: Path = new Path("/")

  // ---- the protocol's verbs (paths are absolute, "/"-rooted) --------

  protected def connect(): C
  /** None when nothing exists at `path`. */
  protected def stat(c: C, path: String): Option[Entry]
  /** A directory's children as (basename, entry). */
  protected def list(c: C, path: String): Seq[(String, Entry)]
  protected def removeFile(c: C, path: String): Boolean
  protected def removeDir(c: C, path: String): Boolean
  protected def renameTo(c: C, from: String, to: String): Boolean
  /** Create `path` and every missing ancestor. */
  protected def makeDirs(c: C, path: String): Boolean
  /** The stream verb, read side: a seekable input over a `len`-byte
    * file that owns `c`.
    */
  protected def input(c: C, path: String, len: Long): FSInputStream
  /** The stream verb, write side: write `path` from byte `offset`
    * (0 = create or truncate). The shell closes `c` after the stream.
    */
  protected def output(c: C, path: String, offset: Long): OutputStream

  // ---- the shell ----------------------------------------------------

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    val scheme = getScheme
    host = name.getHost
    port =
      if (name.getPort > 0) name.getPort
      else conf.getInt(s"fs.$scheme.port", getDefaultPort)
    Option(name.getUserInfo).foreach { ui =>
      val parts = ui.split(":", 2)
      user = parts(0)
      if (parts.length > 1) password = parts(1)
    }
    user = conf.get(s"fs.$scheme.user", user)
    password = conf.get(s"fs.$scheme.password", password)
    // keep the full authority (incl. userinfo) — Path.checkPath
    // compares authorities verbatim
    uri = URI.create(s"$scheme://${name.getAuthority}")
  }

  override def getUri: URI = uri

  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  private def abs(p: Path): String = {
    val q = if (p.isAbsolute) p else new Path(workingDir, p)
    q.toUri.getPath match { case "" => "/"; case s => s }
  }

  private def withConnection[A](f: C => A): A = {
    val c = connect()
    try f(c) finally c.close()
  }

  /** Run `f` on a fresh connection that the stream `f` returns will
    * own; close the connection only if `f` fails.
    */
  private def streaming[A](f: C => A): A = {
    val c = connect()
    try f(c)
    catch { case e: Throwable => c.close(); throw e }
  }

  private val root = Entry(isDir = true, 0L, 0L)

  private def entry(c: C, path: String): Option[Entry] =
    if (path == "/") Some(root) else stat(c, path)

  private def existing(c: C, path: String): Entry =
    entry(c, path).getOrElse(throw new FileNotFoundException(path))

  private def status(e: Entry, p: Path): FileStatus =
    new FileStatus(e.size, e.isDir, 1, 65536, e.mtimeMs, p)

  private def writing(c: C, raw: OutputStream, at: Long): FSDataOutputStream =
    new FSDataOutputStream(new FilterOutputStream(raw) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        out.write(b, off, len)
      override def close(): Unit = try super.close() finally c.close()
    }, statistics, at)

  override def getFileStatus(p: Path): FileStatus = {
    val path = abs(p)
    val e =
      if (path == "/") root
      else withConnection(existing(_, path))
    status(e, makeQualified(p))
  }

  override def listStatus(p: Path): Array[FileStatus] = withConnection { c =>
    val path = abs(p)
    val e = existing(c, path)
    if (!e.isDir) Array(status(e, makeQualified(p)))
    else list(c, path).map { case (name, child) =>
      status(child, new Path(makeQualified(p), name))
    }.toArray
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    streaming { c =>
      val path = abs(p)
      val e = existing(c, path)
      if (e.isDir) throw new IOException(s"cannot open directory $p")
      new FSDataInputStream(input(c, path, e.size))
    }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = streaming { c =>
    val path = abs(p)
    if (!overwrite && entry(c, path).isDefined)
      throw new FileAlreadyExistsException(s"$p already exists")
    val parent = path.take(path.lastIndexOf('/'))
    if (parent.nonEmpty) makeDirs(c, parent)
    writing(c, output(c, path, 0L), 0L)
  }

  /** Append = a write resumed at the current size — the Hadoop
    * surface's resume primitive: a partially-transferred upload
    * continues from where it died instead of restarting.
    */
  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = streaming { c =>
    val path = abs(p)
    val e = existing(c, path)
    if (e.isDir) throw new IOException(s"cannot append to directory $p")
    writing(c, output(c, path, e.size), e.size)
  }

  override def rename(src: Path, dst: Path): Boolean =
    withConnection(renameTo(_, abs(src), abs(dst)))

  override def delete(p: Path, recursive: Boolean): Boolean =
    withConnection { c =>
      def del(path: String, isDir: Boolean): Boolean =
        if (!isDir) removeFile(c, path)
        else {
          val children = list(c, path)
          if (children.nonEmpty && !recursive)
            throw new PathIsNotEmptyDirectoryException(path)
          children.forall { case (name, e) =>
            del(s"${path.stripSuffix("/")}/$name", e.isDir)
          } && removeDir(c, path)
        }
      val path = abs(p)
      entry(c, path).exists(e => del(path, e.isDir))
    }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val path = abs(p)
    path == "/" || withConnection(makeDirs(_, path))
  }
}

object RemoteFileSystem {
  /** What a protocol's `stat` and `list` report of one path. */
  final case class Entry(isDir: Boolean, size: Long, mtimeMs: Long)
}
