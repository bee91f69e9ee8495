package graft

import org.apache.spark.sql.SparkSession

/** I/O placement for the engine's LOCAL entry points (Bench / Verify /
  * Smoke / Explain and the test harness): where the
  * catalog warehouse, Spark's local dirs (shuffle/broadcast/blockmgr
  * spill), and the engine's scratch roots live.
  *
  * Rationale (spark_optimization_guide.md §6, small files): at bench
  * scale the persisted-index lifecycles are dominated not by data bytes
  * but by small-file COMMIT cost — every saveAsTable / bucketed append /
  * watermark rewrite pays directory creation, per-task commit renames,
  * CRC sidecars and fsync-ish metadata on the root disk. A RAM-backed
  * base (`/dev/shm`, present on every Linux host) removes that fixed
  * cost without touching what any query computes: nothing is memoized
  * across runs (every bench invocation still computes from the parquet
  * inputs). The WAREHOUSE + scratch legs carry that rationale; the
  * `spark.local.dir` leg was measured a net negative at 32 cores and
  * reverted (see [[localDir]]).
  *
  * Each JVM owns its files: [[warehouseDir]] and [[scratchRoot]] are fresh
  * directories (`graft_<random>`) this JVM creates under the two bases and
  * deletes whole at exit. Every catalog table, index companion, memo
  * spill, query sink and stream checkpoint lives under one of them, so
  * names need no pid, nothing is registered for cleanup, two concurrent
  * JVMs never see each other's files, and a JVM started after a `kill -9`
  * never adopts the dead one's directory (whose leftovers stay in the base
  * until removed by hand).
  *
  * At cluster scale the same knobs exist and are deployment decisions
  * (fast local SSDs for `spark.local.dir`, a real distributed FS for the
  * warehouse), so the bases are env-overridable:
  *
  *   - `SPARK_GRAFT_WAREHOUSE_DIR` — base of the per-JVM catalog warehouse
  *   - `SPARK_GRAFT_LOCAL_DIR`     — spark.local.dir
  *   - `SPARK_GRAFT_SCRATCH_ROOT`  — base of the per-JVM scratch root
  *
  * Defaults fall back to the pre-r21 bases (cwd `spark-warehouse`,
  * Spark's own local-dir default, `/tmp/graft_cache`) when `/dev/shm` is
  * absent, so behavior off-Linux is unchanged.
  */
object EngineIO {

  private def shm: Option[String] =
    Some("/dev/shm").filter(p => new java.io.File(p).isDirectory)

  /** A fresh `graft_<random>` directory under `base` (created if missing). */
  private def jvmDir(base: String): String = {
    val b = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
    java.nio.file.Files.createTempDirectory(b, "graft_").toAbsolutePath.toString
  }

  /** This JVM's catalog warehouse, set as `spark.sql.warehouse.dir` by
    * every entry-point session.
    */
  val warehouseDir: String = jvmDir(
    sys.env
      .get("SPARK_GRAFT_WAREHOUSE_DIR")
      .orElse(shm.map(_ + "/graft_warehouse"))
      .getOrElse(new java.io.File("spark-warehouse").getAbsolutePath))

  /** This JVM's root for [[graft.queries.Scratch.dir]] (memo spills,
    * query-local fixture/sink dirs, stream checkpoints).
    */
  val scratchRoot: String = jvmDir(
    sys.env
      .get("SPARK_GRAFT_SCRATCH_ROOT")
      .orElse(shm.map(_ + "/graft_cache"))
      .getOrElse("/tmp/graft_cache"))

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    Seq(warehouseDir, scratchRoot).foreach(p => deleteRecursively(new java.io.File(p)))))

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** spark.local.dir (shuffle files, broadcast disk store, block-manager
    * spill). None ⇒ leave Spark's default (java.io.tmpdir).
    *
    * r21 defaulted this to `/dev/shm` alongside the warehouse move; the
    * r22 same-host 32-core A/B (two interleaved full-board pairs, same
    * binary, OPTIMIZATION_r22.md §9) measured the tmpfs leg as a NET
    * NEGATIVE: 249.6 vs 223.3 s and 265.7 vs 241.3 s, ~25 s concentrated
    * on the state-store-heavy stream family. Reverted to Spark's default
    * local dir; the env override remains the deployment knob (fast local
    * SSDs at cluster scale).
    */
  val localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")

  /** Apply the engine's I/O placement to a session builder. Commit
    * algorithm v2 (direct task commit, no job-commit rename pass) is safe
    * here: local mode runs no speculative duplicates, and every engine
    * write lands under this JVM's own roots, where a failed job's partial
    * output is simply deleted.
    *
    * Also sets `spark.sql.legacy.parquet.nanosAsLong` at session build
    * rather than from a query: the `events` fixture now ships
    * `TIMESTAMP_MICROS`, but [[graft.queries.Fixtures.events]] still reads
    * a nanosecond encoding as long nanos if a fixture refresh brings it
    * back, and the conf is part of every [[graft.Memo]] key, so a query
    * that set it mid-session made each memo built before it a miss.
    * Sessions cloned with `newSession` inherit it.
    *
    * And sizes Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf read once per
    * JVM; Spark's default is 100) to hold the working set of plan shapes.
    * Spark keys the cache on the calling thread's class loader, so in a
    * local session the driver and the task threads each compile their
    * own copy of a whole-stage class. The first append → delete → probe
    * → census cycle over an LSH and an IVF-PQ index with its compaction
    * compiles 94 classes beyond those the two index builds compiled, so
    * with 100 entries every cycle evicted what the next one needed and
    * recompiled 30–60 classes. 2,000 leaves headroom for the cache's
    * 4-way segmented LRU, which evicts per segment.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val base = b
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    localDir.fold(base)(d => base.config("spark.local.dir", d))
  }

  /** The engine's one LOCAL session factory, used by every entry point
    * and the test harness: `local[cpus]` with `cpus` shuffle partitions,
    * UTC session time, UI off, [[GraftExtensions]] registered, the I/O
    * placement above ([[configure]]) and WARN logging.
    */
  def localSession(cpus: Int): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
