package graft.plans

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

/** Content-addressed cache for derived physical artifacts (bucketed table
  * layouts, ANN index directories).
  *
  * Operators like the bucketed join and the persistent IVF index are
  * pay-once-build, query-many structures: at 100 TB the build is a scheduled
  * pipeline stage, not part of the query. Locally the same contract is kept
  * by keying the artifact directory on a fingerprint of the *resolved* source
  * files (path + length + mtime + a head/tail content sample, whatever
  * format `Tables.load` would read):
  * the first query builds, subsequent queries — in any JVM — reuse, and any
  * change to the source data changes the fingerprint and forces a rebuild.
  *
  * Cross-process safety: builders write into a private temp directory and
  * publish with an atomic rename. Concurrent builders in other JVMs race
  * benignly — the loser's rename fails against the winner's directory and
  * its temp tree is discarded; nobody ever reads a half-written artifact.
  */
object ArtifactCache {

  /** Lifetime count of builds actually executed (cache misses) in this JVM —
    * lets specs assert an artifact consumer is genuinely pay-once (delta 0
    * on re-request) without depending on Spark job names. */
  val builds = new java.util.concurrent.atomic.AtomicLong(0)

  private def root: File = {
    val r = new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-artifacts")
    r.mkdirs()
    r
  }

  /** Memoized parquet reader for PUBLISHED artifact paths — the
    * [[graft.Tables.load]] plan-cache posture applied to artifact
    * consumers: constructing a reader DataFrame pays a driver-side file
    * listing plus a schema-inference footer job (~100–200 ms measured at
    * local[32]), and the query registry re-reads the same handful of
    * immutable artifact dirs hundreds of times per Bench/Verify run.
    * Valid because a published artifact dir is IMMUTABLE — its path embeds
    * the (data, logic) fingerprint, so changed inputs resolve to a NEW
    * path and stale entries simply stop being requested. Keyed per session
    * (a DataFrame is session-bound). Do NOT route mutable result/output
    * dirs through this. */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()

  def readParquet(s: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame =
    readCache.computeIfAbsent(
      s"${System.identityHashCode(s)}:${new File(path).getCanonicalPath}",
      _ => s.read.parquet(path))

  /** Drop memoized readers under `dir` — called when [[getOrBuild]] actually
    * REBUILDS an artifact at a fingerprint path this JVM may have read
    * before (possible when a sibling process evicted the dir via
    * [[evictStale]] and the rebuild produced new part-file names: a cached
    * reader's frozen file listing would then scan deleted files). The key's
    * path part is everything after the session-id prefix. */
  private def invalidateReaders(dir: File): Unit = {
    val canon = dir.getCanonicalPath
    val it = readCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      val p = k.substring(k.indexOf(':') + 1)
      if (p == canon || p.startsWith(canon + File.separator)) it.remove()
    }
  }

  /** Identity stamp of the class that encodes the build logic: an MD5 of
    * the classfile BYTES. Content-based on purpose — launchers repackage
    * the same classes into fresh jars per invocation (sbt's forked `run`
    * serves them from a per-job jar whose entry mtimes are the packaging
    * time), so an mtime stamp churns every JVM and defeats the cross-
    * process pay-once contract entirely (measured: every bench invocation
    * rebuilt all 10 artifacts). The byte hash is identical across
    * repackaging and changes exactly when a recompile changes the logic.
    * Memoized per class per JVM. */
  private val stampWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val stampMemo = new java.util.concurrent.ConcurrentHashMap[Class[_], String]()

  def codeStamp(cls: Class[_]): String = stampMemo.computeIfAbsent(cls, { cls =>
    val res = cls.getResource(cls.getSimpleName + ".class")
    if (res == null) {
      // name-only stamp: the stale-logic invalidation guard is OFF for this
      // class (some packaged runtimes don't expose classfile resources) —
      // say so once instead of silently serving possibly-stale artifacts
      if (stampWarned.add(cls.getName))
        System.err.println(s"[graft] ArtifactCache: classfile resource for " +
          s"${cls.getName} unresolvable; cache key degrades to the class name " +
          "(recompiles of it will NOT invalidate cached artifacts)")
      cls.getName
    } else {
      val in = res.openStream()
      try {
        val md = MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        s"${cls.getName}:${md.digest().map("%02x".format(_)).mkString.take(16)}"
      } finally in.close()
    }
  })

  /** Stable fingerprint of a set of source tables under `sfDir`, plus the
    * [[codeStamp]] of EVERY class whose code defines the artifact's content
    * (the owning operator AND its helpers — shingling expressions, writers,
    * loaders — since an edit to any of them changes what a build produces). */
  def fingerprint(sfDir: String, tables: Seq[String], logic: Seq[Class[_]]): String = {
    val md = MessageDigest.getInstance("MD5")
    // content sample: first + last 4 KiB of each file. Catches the in-place
    // rewrite that path+length+mtime misses (same-length rewrite inside mtime
    // granularity) — for parquet specifically the tail holds the footer
    // (row-group offsets, column stats), which changes on any rewrite.
    def feedSample(f: File): Unit = {
      val n = f.length
      if (n > 0) {
        val in = new java.io.RandomAccessFile(f, "r")
        try {
          val head = new Array[Byte](math.min(4096L, n).toInt)
          in.readFully(head); md.update(head)
          if (n > 4096) {
            val tail = new Array[Byte](math.min(4096L, n - 4096).toInt)
            in.seek(n - tail.length); in.readFully(tail); md.update(tail)
          }
        } finally in.close()
      }
    }
    def feed(f: File): Unit = {
      md.update(f.getPath.getBytes("UTF-8"))
      md.update(java.nio.ByteBuffer.allocate(16).putLong(f.length).putLong(f.lastModified).array())
      if (f.isFile) feedSample(f)
      if (f.isDirectory) Option(f.listFiles()).foreach(_.sortBy(_.getName).foreach(feed))
    }
    md.update(new File(sfDir).getCanonicalPath.getBytes("UTF-8"))
    logic.map(codeStamp).sorted.foreach(st => md.update(st.getBytes("UTF-8")))
    tables.sorted.foreach(t => feed(graft.Tables.resolve(sfDir, t)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** CONTENT-ONLY fingerprint of a fixture generation: every `*.parquet`
    * entry directly under `sfDir` (file or directory — the driver writes
    * single files, [[graft.tools.ScaleFixture]] writes Spark part-file
    * directories), hashed by basename + length + head/tail 4 KiB sample.
    * Deliberately excludes mtime and absolute path — unlike
    * [[fingerprint]] (a cache key, where a touch-only change erring
    * toward rebuild is cheap), this stamps bench rungs, where a
    * mtime-only change erring toward "generation changed" would
    * invalidate comparable rungs. The parquet footer lives in the tail
    * sample, so any real rewrite changes the stamp. Mirrored EXACTLY by
    * `tools/fixture_fp.py` — the drift/ladder gates compare this value
    * across rungs and refuse cross-generation diffs; change both together
    * or the gate fails closed on every rung. */
  def dataFingerprint(sfDir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    def feedEntry(f: File): Unit = {
      md.update(f.getName.getBytes("UTF-8"))
      if (f.isFile) {
        md.update(java.nio.ByteBuffer.allocate(8).putLong(f.length).array())
        feedSampleOf(md, f)
      } else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File])
          // skip Spark metadata (_SUCCESS, .crc) — presence varies by writer
          .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
          .sortBy(_.getName).foreach(feedEntry)
    }
    Option(new File(sfDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach(feedEntry)
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def feedSampleOf(md: MessageDigest, f: File): Unit = {
    val n = f.length
    if (n > 0) {
      val in = new java.io.RandomAccessFile(f, "r")
      try {
        val head = new Array[Byte](math.min(4096L, n).toInt)
        in.readFully(head); md.update(head)
        if (n > 4096) {
          val tail = new Array[Byte](math.min(4096L, n - 4096).toInt)
          in.seek(n - tail.length); in.readFully(tail); md.update(tail)
        }
      } finally in.close()
    }
  }

  /** Eviction horizon: a sibling artifact (same kind, different
    * fingerprint — an old fixture generation or superseded build logic)
    * is deleted once its last USE is older than this. Mtime is refreshed
    * on every cache hit, so this is an LRU age, not a build age.
    * Overridable for specs via `-Dgraft.artifacts.evictMs=…`. */
  private def evictMs: Long =
    sys.props.get("graft.artifacts.evictMs").map(_.toLong)
      .getOrElse(2L * 3600 * 1000)

  /** Recent siblings kept per kind beyond the one just published — covers
    * a bench ladder alternating between two fixture scales without
    * rebuilding on every switch. */
  private val keepSiblings = 2

  /** Kind names no build publishes any more: `graph_pair_counts` became
    * `graph_pair_counts_<codec>` when the pair codec joined the key, and
    * the codec is now always snappy, so `graph_pair_counts_zstd` is gone. */
  private val retiredKinds = Seq("graph_pair_counts", "graph_pair_counts_zstd")

  /** Published artifacts are immutable but must not be eternal: without
    * eviction every fixture regeneration and recompile strands the prior
    * generation's directories forever (observed: 79 GB of superseded
    * `graph_pair_counts` builds on a 252 GB disk). Runs after each
    * publish, outside any query path: same-kind siblings beyond the
    * newest [[keepSiblings]] are deleted once idle past [[evictMs]], so
    * are idle builds of [[retiredKinds]], and a crashed builder's orphaned
    * `.build-…` staging trees are swept after a day. Deleting a directory another process is actively
    * reading is excluded by the same LRU clock — active readers touch
    * their artifact on every `getOrBuild`. */
  private def evictStale(kind: String, current: File): Unit = {
    val now = System.currentTimeMillis
    def builds(k: String) = java.util.regex.Pattern
      .compile(java.util.regex.Pattern.quote(k + "_") + "[0-9a-f]{16}")
    val sib = builds(kind)
    def ls = Option(root.listFiles()).getOrElse(Array.empty[File])
    ls.filter(f => f.isDirectory && f.getName != current.getName &&
        sib.matcher(f.getName).matches())
      .sortBy(-_.lastModified)
      .drop(keepSiblings)
      .filter(now - _.lastModified > evictMs)
      .foreach(graft.FsUtil.deleteRecursive)
    // no current kind has these names, so no publish would ever sweep them
    val retired = retiredKinds.map(builds)
    ls.filter(f => f.isDirectory && retired.exists(_.matcher(f.getName).matches()) &&
        now - f.lastModified > evictMs)
      .foreach(graft.FsUtil.deleteRecursive)
    ls.filter(f => f.getName.contains(".build-") &&
        now - f.lastModified > 24L * 3600 * 1000)
      .foreach(graft.FsUtil.deleteRecursive)
  }

  /** Return the artifact directory for (kind, sources, logic), building it
    * via `build(dir)` exactly once per fingerprint. `build` receives a
    * private staging directory; the publish is an atomic rename to the final
    * path. `logic` lists the classes whose code defines the artifact's
    * content — a recompile of any of them invalidates the cache
    * (stale-logic guard). */
  def getOrBuild(kind: String, sfDir: String, tables: Seq[String], logic: Seq[Class[_]])
      (build: String => Unit): String = {
    val dir = new File(root, s"${kind}_${fingerprint(sfDir, tables, logic)}")
    if (dir.isDirectory) {                  // published artifacts are immutable
      dir.setLastModified(System.currentTimeMillis) // LRU touch for eviction
      return dir.getPath
    }
    dir.getPath.intern.synchronized {       // serialize same-JVM builders
      if (!dir.isDirectory) {
        val tmp = new File(root,
          s"${dir.getName}.build-${ProcessHandle.current().pid()}-${System.nanoTime()}")
        tmp.mkdirs()
        try {
          builds.incrementAndGet()
          build(tmp.getPath)
          try Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
          catch {
            // another process published first — its artifact is equivalent
            case _: java.nio.file.FileSystemException if dir.isDirectory => ()
          }
          // this fingerprint existed before (evicted + rebuilt): any reader
          // this JVM memoized over the OLD directory contents is stale
          invalidateReaders(dir)
          evictStale(kind, dir)
        } finally graft.FsUtil.deleteRecursive(tmp) // no-op if moved
      }
    }
    dir.getPath
  }
}
