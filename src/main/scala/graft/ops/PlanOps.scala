package graft.ops

import org.apache.spark.sql.DataFrame

/** Plan-shaping helpers that operate on the query plan rather than the
  * data.
  */
object PlanOps {

  /** Lazy optimizer fence: re-roots `df` as a LogicalRDD so rules cannot
    * rewrite across the boundary. Nothing is materialized — `df.rdd` is
    * lazy and the whole thing still executes as one job.
    *
    * Exactly two shapes justify it:
    *
    *   - FILTER ON AN EXPENSIVE DERIVED COLUMN that is also returned.
    *     Predicate pushdown substitutes the column's defining expression
    *     into the filter condition wholesale — projection staging protects
    *     projections from CollapseProject, but nothing protects a
    *     predicate — and FilterExec performs no subexpression elimination,
    *     so the tree re-evaluates per reference (the corpus profile gate
    *     measured 8s fenced→1.1s at 400k docs; the native-expression
    *     variant 53s→1.5s).
    *   - EXPLODE OF AN EXPENSIVELY-BUILT ARRAY. A single-consumer array
    *     expression is inlined into the Generate node, where it
    *     re-evaluates per OUTPUT ELEMENT — m× the work for an m-element
    *     array (exploding staged 5-gram arrays measured 12s → 0.1s at
    *     sf0.1; the LSH band posexplode re-ran the whole minhash signature
    *     pipeline per band the same way).
    *
    * Costs, so this is never used casually: the fence breaks whole-stage
    * fusion at the boundary, adds an InternalRow→Row→InternalRow round
    * trip, and blocks ALL pushdown — including column pruning into the
    * scan — so everything below it must already be pruned/filtered as
    * tightly as possible. Never fence a streaming frame (`df.rdd` is
    * illegal there).
    */
  def fence(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Release a localCheckpoint'ed frame's persisted blocks. The blocks are
    * RDD-level persists (not CacheManager entries), so `Dataset.unpersist`
    * cannot reach them — the handle is the LogicalRDD node's rdd.
    */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))
}
