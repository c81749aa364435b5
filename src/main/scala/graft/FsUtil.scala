package graft

import java.io.File

/** Small filesystem helpers shared across the job layer. */
object FsUtil {
  def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursive))
    f.delete(): Unit
  }

  /** `s` as a file-name component: unsafe characters become `_`, the first
    * 64 are kept, and an md5 suffix keeps names that sanitize alike apart. */
  def safe(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    s.replaceAll("[^A-Za-z0-9_-]", "_").take(64) + "_" + md
  }
}
