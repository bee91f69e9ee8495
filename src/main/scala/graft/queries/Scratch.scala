package graft.queries

/** Names and paths for query-local artifacts: catalog tables (persisted
  * indexes and their companions) and scratch dirs (json/csv/xlsx
  * roundtrips, sinks, memo spills, stream checkpoints). Both live under
  * this JVM's own warehouse and scratch roots ([[graft.EngineIO]]), which
  * are deleted whole at exit: a concurrent JVM (a Verify run
  * beside a local bench on the same sf dir) has roots of its own, so a
  * name needs no pid and no path needs registering for cleanup.
  *
  * Fixture dirs and tables built here once per sf dir go through
  * [[graft.Memo.once]].
  */
object Scratch {

  /** Delete a scratch path's CURRENT contents now (for queries that append
    * into a dir and re-run within one JVM — bench's warmup + two timed
    * passes would otherwise accumulate duplicate rows).
    */
  def reset(path: String): Unit = graft.EngineIO.deleteRecursively(new java.io.File(path))

  /** Catalog TABLE name `graft_<tag>`; its directory, and those of every
    * companion the index lifecycle derives from it, lie in this JVM's
    * warehouse.
    */
  def table(tag: String): String = s"graft_$tag"

  /** `<EngineIO.scratchRoot>/<tag>_<sanitized key>`. */
  def dir(tag: String, key: String): String =
    s"${graft.EngineIO.scratchRoot}/${tag}_" + key.replaceAll("[^0-9a-zA-Z]", "_")
}
