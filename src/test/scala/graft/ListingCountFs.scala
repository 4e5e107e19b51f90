package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

/** The local filesystem, recording the path of every `listStatus` call:
  * tests pin how much of a table a read lists with it. Install it with
  * [[ListingCountFs.counting]]. It stays the `file` scheme's own
  * checksummed filesystem, so located statuses of partitioned dirs
  * resolve as they do without it. */
class ListingCountFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListingCountFs.listed.add(p.toUri.getPath)
    super.listStatus(p)
  }
}

object ListingCountFs {
  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Run `body` with this filesystem serving `file` paths and the
    * FileSystem cache off for them (so every `getFileSystem` builds
    * one), then restore both settings. Returns `body`'s result and the
    * paths it listed, in call order. */
  def counting[A](conf: Configuration)(body: => A): (A, Seq[String]) = {
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ListingCountFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    listed.clear()
    try {
      val out = body
      (out, listed.toArray(Array.empty[String]).toSeq)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
