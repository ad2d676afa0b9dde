package graft.fs

import org.apache.hadoop.conf.Configuration

/** Configuration for the caching filesystem layer.
  *
  * Mirrors the reference's tunables (defaults from
  * SidecarConfig.java:127-153): 1 MiB data pages, 4 MiB prefetch I/O
  * buffer, 95%/90% write-cache eviction watermarks, 10-page scan
  * detector threshold. Keys use the `graft.fs.` prefix and are read from
  * the Hadoop Configuration, so `spark.hadoop.graft.fs.*` settings flow
  * through untouched.
  */
final case class GraftFsConf(
    pageSize: Long,
    ioBufferSize: Long,
    memCacheBytes: Long,
    diskCacheBytes: Long,
    diskCacheDir: String,
    writeCacheEnabled: Boolean,
    writeCacheDir: String,
    writeCacheBytes: Long,
    writeCacheExclude: Seq[String],
    scanThresholdPages: Int,
    remoteMutable: Boolean,
    persistent: Boolean,
    asyncClose: Boolean,
    dataCacheMode: String,
    minSizeThreshold: Long,
    dataCacheExclude: Seq[String],
    dataCacheType: String)

object GraftFsConf {
  val Prefix = "graft.fs."

  def apply(c: Configuration): GraftFsConf = {
    val page = math.max(c.getLong(s"${Prefix}data.page.size", 1L << 20), 512L)
    val ioRaw = c.getLong(s"${Prefix}io.buffer.size", 4L << 20)
    GraftFsConf(
    pageSize = page,
    // the span fetcher caches page-aligned slices of the I/O buffer, so
    // the buffer must be a positive multiple of the page size — clamp
    // rather than corrupt (a short mid-file page would be cached forever)
    ioBufferSize = math.max(ioRaw - ioRaw % page, page),
    memCacheBytes = c.getLong(s"${Prefix}memory.cache.size", 256L << 20),
    diskCacheBytes = c.getLong(s"${Prefix}disk.cache.size", 1L << 30),
    diskCacheDir = c.get(s"${Prefix}disk.cache.dir",
      sys.props("java.io.tmpdir") + "/graft_page_cache"),
    writeCacheEnabled = c.getBoolean(s"${Prefix}write.cache.enabled", true),
    writeCacheDir = c.get(s"${Prefix}write.cache.dir",
      sys.props("java.io.tmpdir") + "/graft_write_cache"),
    writeCacheBytes = c.getLong(s"${Prefix}write.cache.size", 4L << 30),
    writeCacheExclude = Option(c.get(s"${Prefix}write.cache.exclude.list"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty),
    scanThresholdPages = c.getInt(s"${Prefix}scan.detector.threshold.pages", 10),
    remoteMutable = c.getBoolean(s"${Prefix}remote.files.mutable", false),
    persistent = c.getBoolean(s"${Prefix}cache.persistent", false),
    asyncClose = c.getBoolean(s"${Prefix}write.cache.async.close", false),
    // page-cache admission by file (reference DataCacheMode.java:20-38):
    // ALL | NOT_IN_WRITE_CACHE | MINSIZE (only files >= the threshold)
    dataCacheMode = c.get(s"${Prefix}data.cache.mode", "ALL").toUpperCase,
    minSizeThreshold = c.getLong(s"${Prefix}cache.minsize.threshold", 100L << 20),
    dataCacheExclude = Option(c.get(s"${Prefix}data.cache.exclude.list"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty),
    // where the memory tier keeps data pages: OFFHEAP (default —
    // reference parity, SidecarDataCacheType.java:20-48: pooled direct
    // segments, multi-GB caches stay off the GC heap) or HEAP (plain
    // arrays on the GC heap, no pool; for small caches). Hits copy only
    // the requested bytes in either mode, so the choice is about where
    // the memory lives, not about hit cost
    dataCacheType = c.get(s"${Prefix}data.cache.type", "OFFHEAP").toUpperCase)
  }

  /** Write-cache eviction watermarks (hard-coded in the reference too:
    * SidecarCachingFileSystem.java:124-129). */
  val EvictionStart = 0.95
  val EvictionStop = 0.90
}
