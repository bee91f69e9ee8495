package graft.queries

/** Pid-scoped /tmp scratch paths for query-local artifacts (json/csv/xlsx
  * roundtrips, chain memo spills). Two concerns, both learned the hard way:
  *
  *   - CONCURRENT JVMS: the driver's verify can run alongside a local bench
  *     on the same sf dir; a path keyed only by the data dir lets one JVM
  *     overwrite an artifact while the other's scan reads it (flaky
  *     zip/json parse failures). Every path therefore embeds the pid.
  *   - CLEANUP: pid-scoped paths are never reused across JVMs, so they are
  *     garbage the moment this JVM exits — a shutdown hook deletes every
  *     path registered here (spills included; [[graft.Memo]] holds only
  *     path strings for its frames, so nothing pins a SparkSession).
  *
  * Fixture dirs and tables built here once per sf dir go through
  * [[graft.Memo.once]].
  */
object Scratch {

  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach(p => deleteRecursively(new java.io.File(p)))
  }))

  /** Delete a scratch path's CURRENT contents now (for queries that append
    * into a dir and re-run within one JVM — bench's warmup + two timed
    * passes would otherwise accumulate duplicate rows).
    */
  def reset(path: String): Unit = deleteRecursively(new java.io.File(path))

  /** Pid-scoped catalog TABLE name (`graft_<tag>_<pid>`) with its
    * warehouse directory registered for deletion at JVM exit. Same
    * concurrent-JVM concern as [[dir]]: a fixed table name lets a
    * concurrent verify DROP the table out from under a bench's probe
    * mid-query. The in-memory catalog entry dies with the JVM; only the
    * warehouse directory would leak, hence the registration.
    */
  def table(tag: String): String = {
    val t = s"graft_${tag}_${ProcessHandle.current().pid()}"
    created.add(new java.io.File(graft.EngineIO.warehouseDir, t).getAbsolutePath)
    t
  }

  /** Register an out-of-band COMPANION table's warehouse directory for
    * exit-time deletion: tombstone (`<idx>_tomb`) and compaction-stage
    * (`<idx>__compact_stage`) tables derive their names from the index
    * table's, so [[table]] never mints them — the query that triggers
    * their creation registers them here.
    */
  def registerTable(name: String): Unit = {
    created.add(new java.io.File(graft.EngineIO.warehouseDir, name).getAbsolutePath): Unit
  }

  /** [[registerTable]] for a versioned index's WHOLE name family: the
    * logical table, its tombstone companion (plus the companion's
    * `__keep` rewrite stage), and `maxV` generations of published
    * versions with their build and compaction stages — every name the
    * persisted-index lifecycle (publishVersion / compact / delete) can
    * mint for one logical index. One call per index beats five
    * hand-maintained registration lists drifting from the naming scheme.
    */
  def registerVersionedIndex(table: String, maxV: Int = 3): Unit = {
    val tomb = graft.ext.BucketedIndex.tombTable(table)
    Seq(table, tomb, tomb + "__keep", table + "__compact_stage").foreach(registerTable)
    (1 to maxV).foreach { v =>
      registerTable(s"${table}__v$v")
      registerTable(s"${table}__v${v}__build")
      registerTable(s"${table}__v${v}__compact_stage")
    }
  }

  /** Pid-scoped tag for [[graft.ops.BucketOps.bucketedEquiJoin]], which
    * derives its two table names as `graft_bkt_<tag>_l/_r` — both
    * warehouse directories registered for exit-time deletion.
    */
  def bucketTag(tag: String): String = {
    val t = s"${tag}_${ProcessHandle.current().pid()}"
    created.add(new java.io.File(graft.EngineIO.warehouseDir, s"graft_bkt_${t}_l").getAbsolutePath)
    created.add(new java.io.File(graft.EngineIO.warehouseDir, s"graft_bkt_${t}_r").getAbsolutePath)
    t
  }

  /** `<EngineIO.scratchRoot>/graft_<tag>_<pid>_<sanitized key>` (RAM-backed
    * `/dev/shm/graft_cache` where available — see [[graft.EngineIO]]),
    * registered for deletion at JVM exit.
    */
  def dir(tag: String, key: String): String = dirAt(graft.EngineIO.scratchRoot, tag, key)

  /** Same pid-scoped exit-deleted contract under an arbitrary root (e.g. a
    * RAM-backed /dev/shm for streaming checkpoint logs).
    */
  def dirAt(root: String, tag: String, key: String): String = {
    val p = s"$root/graft_${tag}_${ProcessHandle.current().pid()}_" +
      key.replaceAll("[^0-9a-zA-Z]", "_")
    created.add(p)
    p
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
