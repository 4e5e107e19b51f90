package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** The local filesystem under two test-only schemes whose PUBLISH
  * renames (destinations under `/_commits/`) misbehave on purpose.
  * Everything else delegates to [[RawLocalFileSystem]], so a table root
  * like `nopublish:///tmp/t` is the same directory as `/tmp/t`.
  *   - `nopublish`: every publish rename returns false — a persistent
  *     fault with the version slot still free.
  *   - `slowpublish`: every publish rename first sleeps
  *     [[PublishFaultFs.DelayMs]]; each manifest's staging instant (the
  *     creation time of the `_tmp/` file renamed onto it) is recorded
  *     in [[PublishFaultFs.stagedAt]].
  * Register both with [[PublishFaultFs.register]]. */
class PublishFaultFs extends RawLocalFileSystem {
  private var uri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    uri = URI.create(s"${name.getScheme}:///")
    super.initialize(name, conf)
    // the constructor qualified it before the scheme was known
    setWorkingDirectory(getInitialWorkingDirectory)
  }

  override def getUri: URI = if (uri == null) super.getUri else uri
  override def getScheme: String = uri.getScheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.toUri.getPath.contains("/_tmp/"))
      PublishFaultFs.created.put(f.toUri.getPath, System.currentTimeMillis())
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val publishing = dst.toUri.getPath.contains("/_commits/")
    if (publishing && uri.getScheme == PublishFaultFs.NoPublish) false
    else {
      if (publishing) {
        Thread.sleep(PublishFaultFs.DelayMs)
        Option(PublishFaultFs.created.get(src.toUri.getPath))
          .foreach(PublishFaultFs.staged.put(dst.toUri.getPath, _))
      }
      super.rename(src, dst)
    }
  }
}

object PublishFaultFs {
  val NoPublish = "nopublish"
  val SlowPublish = "slowpublish"
  val DelayMs = 2000L

  private val created = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def register(conf: Configuration): Unit =
    Seq(NoPublish, SlowPublish).foreach(s =>
      conf.set(s"fs.$s.impl", classOf[PublishFaultFs].getName))

  /** When the manifest published at local path `manifest` was staged. */
  def stagedAt(manifest: String): Option[Long] = Option(staged.get(manifest))
}
