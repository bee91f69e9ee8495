package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3). All reference joins are equi-joins with
  * lookup-sized right sides — the idiomatic Spark plan is a broadcast hash
  * join, so every helper here hints `broadcast` on the small side. At 100 TB
  * the big side streams through map tasks with zero shuffle.
  */
object LinkOps {

  /** J3 with fallback: left join then `coalesce(mapped, original)` —
    * crosswalk PIN remap (2023/format_legacy_2023.R:40-43).
    */
  def lookupRemap(
      df: DataFrame,
      dim: DataFrame,
      dfKey: String,
      dimKey: String,
      dimValue: String
  ): DataFrame =
    df.join(broadcast(dim.select(col(dimKey), col(dimValue))), col(dfKey) === col(dimKey), "left")
      .withColumn(dfKey, coalesce(col(dimValue), col(dfKey)))
      .drop(dimKey, dimValue)

  /** J5: membership semi-join — keep rows whose key exists in the universe
    * (the reference's in-memory `set` probe, chicago/permit_cleaning.py:438-448).
    * Broadcast left-semi hash join: the probe never shuffles the big side.
    */
  def semiMembership(df: DataFrame, universe: DataFrame, cond: Column): DataFrame =
    df.join(broadcast(universe), cond, "left_semi")

  /** Complement of [[semiMembership]] — rows whose key is NOT in the universe
    * (J6, verify_legacy_uploads.R:6-34).
    */
  def antiMembership(df: DataFrame, universe: DataFrame, cond: Column): DataFrame =
    df.join(broadcast(universe), cond, "left_anti")

  /** Skew-mitigating equi-join (SURVEY §4 scale posture): when one join key
    * carries a disproportionate share of the big side, a plain shuffle join
    * sends that key's rows to one reducer. Salting splits each key into
    * `salts` sub-keys: the big side gets a deterministic salt derived from a
    * high-cardinality column, the small side is replicated once per salt.
    * Shuffle balance improves by ~`salts`× on the hot key for `salts`× small
    * side volume. AQE's skew-join handles moderate skew automatically; this
    * is for the pathological key you know about.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      saltSource: Column,
      salts: Int
  ): DataFrame =
    // delegates to the canonical md5-deterministic implementation
    // (SkewOps) so there is exactly one salting discipline in the engine
    SkewOps.saltedJoin(big, small, bigKey, smallKey, saltSource, salts)

  /** J4: multi-key anti-join dedupe against an existing-rows table
    * (chicago/permit_cleaning.py:838-883). The right side is deduplicated
    * first (reference `drop_duplicates`, :877 — semantics-preserving for an
    * anti-join but keeps the broadcast small). Keys must already be
    * canonicalized by the caller (decimal/date/string canon, :848-871).
    *
    * Null semantics: pandas `merge` matches NaN==NaN; for an ANTI join the
    * observable difference is only that a left row with a null key matches a
    * null-keyed right row in pandas (dropped) but never matches in Spark
    * (kept). `nullSafe = true` reproduces pandas exactly via `<=>`.
    */
  def antiDedupe(
      df: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      nullSafe: Boolean = true
  ): DataFrame = {
    val right = broadcast(existing.select(keys.map(col): _*).dropDuplicates())
    val cond = keys
      .map { k =>
        if (nullSafe) df(k) <=> right(k) else df(k) === right(k)
      }
      .reduce(_ && _)
    df.join(right, cond, "left_anti")
  }

  /** Bloom-gated shuffle join — the semi-join reduction for the case
    * NEITHER broadcast covers: the build side is too big to broadcast as
    * a hash table, but most big-side rows won't match it. A Bloom filter
    * of the build keys (m bits, k hashes — `Sketches.bloomBits`
    * discipline, same md5 positions) IS broadcastable at any build size,
    * so the big side is gated MAP-SIDE before its exchange: rows whose
    * key can't be in the build never shuffle. No false negatives means
    * the inner-join result is IDENTICAL to the plain join for any
    * (m, k); false positives only cost shuffled bytes, so sketch sizing
    * tunes cost, never correctness — the same contract as the
    * heavy-hitter gate.
    *
    * The bit set rides the PLAN as an m/64-word Long-array literal
    * (bounded MODEL state — capacity is the caller's parameter, not data
    * — the bake-the-model-into-the-expression discipline), and the gate
    * is pure codegen bit arithmetic: element_at + shift + mask per hash.
    *
    * Inner joins only: gating the probe side of an outer join would drop
    * unmatched rows it must keep.
    */
  def bloomGatedJoin(
      big: DataFrame,
      build: DataFrame,
      bigKey: String,
      buildKey: String,
      m: Long,
      k: Int
  ): DataFrame = {
    require(m > 0 && m <= (1L << 26), "m must be a sane bit capacity (≤ 64 Mbit)")
    require(k > 0, "k must be positive")
    val words = new Array[Long](((m + 63) / 64).toInt)
    graft.ext.Sketches
      .bloomBits(build, col(buildKey), m, k)
      .collect()
      .foreach { r =>
        val p = r.getLong(0)
        words((p / 64).toInt) |= 1L << (p % 64).toInt
      }
    val mask = lit(words)
    // positions from the shared lane family (Sketches.bloomPositions —
    // MUST match the family bloomBits built the words with): one digest
    // serves four hash functions on the per-row probe path. `forall` is
    // deliberate: filter codegen does NOT common-subexpression-eliminate,
    // so k scalar references to the lanes expression re-digest k times
    // (measured: the k-reference form was SLOWER than the retired
    // j#-salted family) — the HOF evaluates the positions array ONCE and
    // runs k bit probes over it.
    val gate = forall(
      graft.ext.Sketches.bloomPositions(col(bigKey).cast("string"), m, k),
      pos =>
        // SQL shiftright takes an expression bits arg (the Scala-API
        // overload is Int-only), hence call_function
        call_function(
          "shiftright",
          element_at(mask, (pos / 64).cast("int") + 1),
          (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L))
    big.filter(col(bigKey).isNotNull && gate).join(build, big(bigKey) === build(buildKey))
  }
}
