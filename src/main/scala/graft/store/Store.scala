package graft.store

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local build store: manifests, content-hash memoization and
  * feature/build-level parquet caches.
  * Mirrors `/root/reference/src/timefence/store.py:15-161`; hashes are
  * sha256 truncated to 16 hex chars (reference `_constants.py:22`,
  * `CACHE_KEY_LENGTH`). The content-hash memo is keyed on
  * `(path, size, mtime_ns)` so unchanged files skip re-hashing.
  */
final class Store(val root: String = ".graft",
    val maxChecksumFiles: Int = Store.DefaultMaxChecksumFiles) {

  private val buildsDir = Paths.get(root, "builds")
  private val cacheDir = Paths.get(root, "cache", "features")
  // keyed PER PATH (stat signature in the value): rewriting the same
  // path repeatedly must not accumulate one unreachable entry per
  // (size, mtime) ever seen
  private val memo = mutable.Map.empty[String, (Long, Long, String)]
  // remote checksum RPCs are the expensive half of a fingerprint probe
  // (datanode MD5-of-CRC on HDFS, HEAD on s3a) — memoized on the same
  // (path, size, mtime) signature as content hashes
  private val checksumMemo = mutable.Map.empty[String, (Long, Long, String)]

  def init(): this.type = {
    Files.createDirectories(buildsDir)
    Files.createDirectories(cacheDir)
    this
  }

  // ---- hashing ------------------------------------------------------

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  def hashString(s: String): String = sha256Hex(s.getBytes("UTF-8")).take(16)

  /** True for scheme-d URIs (s3a://, hdfs://, file://, …) that java.nio
    * cannot stat — those route through the Hadoop FileSystem API. */
  private def hasScheme(path: String): Boolean = path.contains("://")

  /** Hadoop configuration for remote stats: the active session's (so
    * s3a/abfs credentials configured on the session apply), else a
    * vanilla one. */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Existence check that speaks both local paths and scheme-d URIs. */
  def exists(pathStr: String): Boolean =
    if (hasScheme(pathStr))
      try {
        val p = new org.apache.hadoop.fs.Path(pathStr)
        p.getFileSystem(hadoopConf).exists(p)
      } catch { case _: Exception => false }
    else Files.exists(Paths.get(pathStr))

  /** Content hash of a file or parquet directory, memoized on
    * (path, size, mtime_ns). Directory hash = hash of sorted
    * (relative-path, per-file hash) pairs, walked RECURSIVELY so
    * partitioned datasets (key=…/part-*.parquet) hash correctly.
    *
    * Scheme-d URIs (s3a://, hdfs://, file://) are fingerprinted from
    * one Hadoop `FileSystem.getFileStatus`/`listFiles` pass — every
    * file's (relative path, length, modificationTime) — with no
    * content reads. That is the same signature the reference memoizes
    * content hashes on (`store.py:89-107`, `(path, size, mtime_ns)`):
    * an in-place rewrite preserving both length and mtime would serve
    * a stale cache entry there exactly as here. Object stores bump
    * mtime on every PUT, so the fingerprint is robust where remote
    * data actually lives — and full content hashing would re-read
    * terabytes over the network per build, which is the reason the
    * probe used to skip remote URIs entirely.
    */
  def contentHash(pathStr: String): String = {
    if (hasScheme(pathStr)) return remoteFingerprint(pathStr)
    val p = Paths.get(pathStr)
    if (Files.isDirectory(p)) {
      val stream = Files.walk(p)
      val parts =
        try {
          stream.iterator().asScala
            .filter(f => Files.isRegularFile(f))
            .map(f => (p.relativize(f).toString, f))
            .filter { case (rel, _) =>
              !rel.split('/').exists(seg =>
                seg.startsWith("_") || seg.startsWith("."))
            }
            .toSeq.sortBy(_._1)
            .map { case (rel, f) => s"$rel:${fileHash(f)}" }
        } finally stream.close()
      hashString(parts.mkString("\n"))
    } else fileHash(p)
  }

  /** Stat fingerprint for scheme-d URIs, hashed into the same 16-hex
    * space as content hashes. Prefixed so a remote fingerprint can
    * never collide with a local content hash of the same bytes.
    *
    * Where the filesystem exposes one, a per-file content discriminator
    * (`FileSystem.getFileChecksum`: MD5-of-CRC on HDFS, etag-backed on
    * s3a when `fs.s3a.etag.checksum.enabled` is set) is folded in, so a
    * same-length overwrite landing in the same millisecond still
    * invalidates the cache. Filesystems that return null (the default
    * on most object stores) fall back to the pure (length, mtime_ms)
    * signature — the residual staleness window for that case is
    * documented in COVERAGE.md §2.11.
    *
    * Checksum RPC cost is bounded two ways: single files and small
    * directories fold checksums, but a directory with more than
    * [[maxChecksumFiles]] data files (a heavily partitioned dataset)
    * skips the fold entirely — one listing pass, zero per-file RPCs,
    * preserving the "one pass, no content reads" probe cost — and each
    * checksum is memoized on (path, length, mtime) so repeat probes of
    * an unchanged file never re-issue the RPC. Set `maxChecksumFiles`
    * to 0 to disable the fold everywhere. */
  private def remoteFingerprint(pathStr: String): String = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(p)
    if (status.isDirectory) {
      val baseUri = status.getPath.toUri
      val it = fs.listFiles(p, true)
      val files = mutable.ArrayBuffer.empty[(String, org.apache.hadoop.fs.FileStatus)]
      while (it.hasNext) {
        val f = it.next()
        val rel = baseUri.relativize(f.getPath.toUri).getPath
        // same hidden-file policy as the local walk: _SUCCESS,
        // _metadata, .crc sidecars don't participate
        if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
          files += ((rel, f))
      }
      val foldChecksums = files.size <= maxChecksumFiles
      val parts = files.map { case (rel, f) =>
        val ck = if (foldChecksums) checksumPart(fs, f) else ""
        s"$rel:${f.getLen}:${f.getModificationTime}$ck"
      }
      hashString("hfs\n" + parts.sorted.mkString("\n"))
    } else if (maxChecksumFiles > 0)
      hashString(
        s"hfs:${status.getLen}:${status.getModificationTime}${checksumPart(fs, status)}")
    else
      hashString(s"hfs:${status.getLen}:${status.getModificationTime}")
  }

  /** Best-effort content discriminator for one remote file: empty when
    * the store exposes no checksum (null) or the call fails — never
    * blocks fingerprinting. Encoded deterministically as
    * `algorithm:hex(bytes)` (the base `FileChecksum.toString` is not
    * overridden by every implementation and would degrade to an
    * identity hash). Memoized on (path, length, mtime): within one
    * Store instance a same-length mtime-pinned overwrite serves the
    * cached checksum — the same residual window the reference accepts
    * for its content-hash memo (`store.py:89-107`); cold probes (new
    * process) still re-read the checksum and catch it. */
  private def checksumPart(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): String = {
    val key = st.getPath.toString
    val (len, mtime) = (st.getLen, st.getModificationTime)
    checksumMemo.get(key) match {
      case Some((`len`, `mtime`, part)) => part
      case _ =>
        val part =
          try {
            val c = fs.getFileChecksum(st.getPath)
            if (c == null) ""
            else {
              val bytes = Option(c.getBytes).getOrElse(Array.emptyByteArray)
              ":" + c.getAlgorithmName + ":" + bytes.map("%02x".format(_)).mkString
            }
          } catch { case _: Exception => "" }
        checksumMemo(key) = (len, mtime, part)
        part
    }
  }

  private def fileHash(p: Path): String = {
    val size = Files.size(p)
    // nanosecond mtime (reference memoizes on mtime_ns): a same-size
    // sub-millisecond rewrite must not serve a stale hash
    val mtime = Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    memo.get(p.toString) match {
      case Some((`size`, `mtime`, hash)) => hash
      case _ =>
        val md = MessageDigest.getInstance("SHA-256")
        val in = Files.newInputStream(p)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        val hash = md.digest().map("%02x".format(_)).mkString.take(16)
        memo(p.toString) = (size, mtime, hash)
        hash
    }
  }

  // ---- feature cache ------------------------------------------------

  /** Cache key for a computed feature table: definition + source
    * content + embargo (+ explicit transform version); mirrors
    * store.py:113-131 with the JVM caveat that transform closures
    * contribute a user-supplied version string (SURVEY §7.3).
    */
  def featureCacheKey(definition: String, sourceHash: String, embargoSeconds: Long): String =
    hashString(s"$definition|$sourceHash|$embargoSeconds")

  def featureCachePath(key: String): String =
    cacheDir.resolve(s"$key.parquet").toString

  /** Opens through [[graft.sources.SchemaCache]]: a hit on a cache this
    * session wrote or read before runs no schema-inference job. */
  def loadFeatureCache(spark: SparkSession, key: String): Option[DataFrame] = {
    val p = featureCachePath(key)
    if (Files.exists(Paths.get(p))) Some(graft.sources.SchemaCache.parquet(spark, p))
    else None
  }

  /** Writes the cache and records its schema, so the re-read after a
    * miss skips inference. */
  def saveFeatureCache(df: DataFrame, key: String): Unit = {
    val p = featureCachePath(key)
    df.write.mode("overwrite").parquet(p)
    graft.sources.SchemaCache.put(p, df.schema)
  }

  // ---- build cache / manifests -------------------------------------

  def buildKey(labelsHash: String, featureKeys: Seq[String], params: String): String =
    hashString((labelsHash +: featureKeys.sorted :+ params).mkString("|"))

  def saveManifest(buildId: String, json: String): Unit = {
    Files.createDirectories(buildsDir)
    Files.writeString(buildsDir.resolve(s"$buildId.json"), json)
  }

  def loadManifest(buildId: String): Option[String] = {
    val p = buildsDir.resolve(s"$buildId.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  def listManifests(): Seq[String] =
    if (!Files.isDirectory(buildsDir)) Nil
    else {
      val stream = Files.list(buildsDir)
      try stream.iterator().asScala
        .map(_.getFileName.toString.stripSuffix(".json")).toSeq.sorted
      finally stream.close()
    }
}

object Store {
  /** Directory checksum-fold cap: above this many data files the
    * fingerprint skips per-file checksum RPCs (N remote round-trips on
    * HDFS/s3a) and relies on the (length, mtime) listing alone, which a
    * single batched `listFiles` pass already produced. Partitioned
    * datasets routinely hold thousands of part files; the cap keeps the
    * cache probe at one RPC regardless. */
  val DefaultMaxChecksumFiles: Int = 64
}
