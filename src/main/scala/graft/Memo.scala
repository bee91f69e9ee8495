package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one in-JVM memo: session-scoped reuse of results keyed by
  * content ("Incremental … Top-K Similarity Search in Interactive Data
  * Analysis Sessions", EDBT 2020). Three kinds of entry share it:
  *
  *   - FRAMES ([[frame]], [[planFrame]]): a DataFrame materialized once as
  *     a parquet spill under [[graft.queries.Scratch.dir]] and read back
  *     on every acquisition, so N consumers of one subtree compute it
  *     once. Weighed by disk bytes.
  *   - VALUES ([[value]], [[model]]): driver-held fitted models (PQ books,
  *     k-means centroids, covariance pyramids, BPE merges) — never data.
  *     Weighed by [[approxBytes]].
  *   - BUILD-ONCE ([[once]]): fixture dirs and catalog tables written once
  *     per (name, data key) and rebuilt when the data key changes.
  *
  * One key rule ([[key]]): the tag, then the caller's content key (or the
  * analysed-plan fingerprint plus schema, [[fingerprint]]), then the
  * session confs that change what a plan computes ([[SemanticConfs]]).
  * Session identity is deliberately NOT in the key: two sessions that
  * evaluate the same content under the same semantic confs read the same
  * bytes, and the stream harness clones a session per invocation.
  *
  * One single-flight build per key, run OUTSIDE the map lock: concurrent
  * acquirers of a key wait for the one build, a build may acquire other
  * keys, and a failed build stores nothing (its waiters retry, the next
  * caller builds again). A build that re-acquires its OWN key fails fast
  * instead of waiting on itself.
  *
  * One LRU over frames and values, weighted by bytes under one constant
  * cap ([[CapBytes]]): past it, the least-recently acquired entries are
  * dropped (frames' directories deleted) until the total fits, never the
  * entry just acquired and never a build-once entry. Contract the
  * eviction leans on: a frame's readers execute promptly after
  * acquisition; an evicted key's next acquisition simply rebuilds. Every
  * spill lies under this JVM's scratch root ([[graft.EngineIO]]), which
  * is deleted whole at exit.
  *
  * One census ([[census]]) lists every entry with its kind and weight.
  */
object Memo {

  sealed trait Kind
  case object Frame extends Kind
  case object Value extends Kind
  case object Once extends Kind

  /** One census row. `value` is the spill path (frames), the fitted model
    * (values) or the data key the entry was built for (build-once).
    */
  final case class Row(key: String, kind: Kind, value: AnyRef, bytes: Long)

  /** The one byte cap over frames' disk bytes and values' heap bytes:
    * never reached at fixture scale (~22 MB of spills at sf0.1); it bounds
    * a long-lived serving JVM.
    */
  val CapBytes: Long = 4L << 30

  /** Session confs that change what a given plan computes. */
  private val SemanticConfs: Seq[String] = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private final class Entry(val kind: Kind, val version: String) {
    val builder: Thread = Thread.currentThread()
    val result = new java.util.concurrent.CompletableFuture[AnyRef]()
    var bytes: Long = 0L // guarded by `entries`
  }

  // access-ordered: iteration runs least-recently acquired first
  private val entries = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var totalBytes = 0L // guarded by `entries`
  @volatile private var capBytes = CapBytes
  private val evicted = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test hook: set the cap, returning the previous one. */
  private[graft] def setCapBytes(n: Long): Long = {
    val old = capBytes
    capBytes = n
    old
  }

  private[graft] def evictions: Long = evicted.get()

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The one key rule: `<tag>_md5(content | semantic confs)`. */
  private def key(tag: String, content: String, spark: SparkSession): String = {
    val confs = SemanticConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString("|")
    s"${tag}_${md5(content + "|" + confs)}"
  }

  /** Content identity of a plan: the analysed plan's canonical form plus
    * its 32-bit semanticHash and the full schema. `canonicalized.toString`
    * can truncate wide field lists (spark.sql.debug.maxToStringFields), so
    * a collision would need all three equal.
    */
  private def fingerprint(df: DataFrame): String = {
    val a = df.queryExecution.analyzed
    s"${a.canonicalized}|${a.semanticHash()}|${df.schema.catalogString}"
  }

  /** Content-keyed frame: with `Some(key)`, spill `df` once per (tag, key,
    * confs) and return a scan of the spill; with `None`, return `df` as
    * it is. `df` is by-name and evaluated only on a miss — the unrolled
    * graph loops plan eagerly at construction, so a hit must not build
    * them. The caller asserts `key` identifies the input data and every
    * parameter the content depends on; builders whose plan roots in a
    * [[graft.ops.PlanOps.fence]] need this form, because their plan never
    * repeats.
    */
  def frame(tag: String, key: Option[String], spark: SparkSession)(df: => DataFrame): DataFrame =
    key.fold(df)(k => spill(tag, this.key(tag, k, spark), spark, df))

  /** Plan-keyed frame: spill `df` once per analysed-plan [[fingerprint]],
    * so a plan that references one subtree N times computes it once
    * (exchange reuse does not fire across differently-projected broadcast
    * sides).
    */
  def planFrame(df: DataFrame, tag: String): DataFrame =
    spill(tag, key(tag, fingerprint(df), df.sparkSession), df.sparkSession, df)

  private def spill(tag: String, k: String, spark: SparkSession, df: => DataFrame): DataFrame = {
    val path = acquire(k, Frame, "") {
      val p = graft.queries.Scratch.dir(tag, k)
      df.write.mode("overwrite").parquet(p)
      p
    }(p => dirBytes(new java.io.File(p.asInstanceOf[String])))
    spark.read.parquet(path.asInstanceOf[String])
  }

  /** A driver-held value (a fitted model) built once per (tag, key, confs). */
  def value[T <: AnyRef](tag: String, key: String, spark: SparkSession)(build: => T): T =
    acquire(this.key(tag, key, spark), Value, "")(build)(approxBytes).asInstanceOf[T]

  /** [[value]] for a model fitted on `corpus`: keyed by the corpus's
    * [[fingerprint]] and the fit's parameters. Fits are deterministic
    * functions of (corpus, params), so every consumer of one key gets
    * identical model state from one training pass.
    */
  def model[T <: AnyRef](tag: String, corpus: DataFrame, params: String)(fit: => T): T =
    value(tag, s"${fingerprint(corpus)}|$params", corpus.sparkSession)(fit)

  /** Run `build` once for `name` while its data `key` is unchanged, and
    * again when the key changes (one JVM warms at sf0.001 and then runs
    * sf0.1 against the same table names). Same-name builders
    * serialize on the name's single flight, so no query scans a fixture or
    * table another query is still writing.
    */
  def once(name: String, key: String)(build: => Unit): Unit = {
    acquire(name, Once, key) { build; key }(_ => 0L): Unit
  }

  /** Every built entry, least-recently acquired first. */
  def census(): Seq[Row] = entries.synchronized {
    import scala.jdk.CollectionConverters._
    entries.asScala.toSeq.collect {
      case (k, e) if e.result.isDone && !e.result.isCompletedExceptionally =>
        Row(k, e.kind, e.result.join(), e.bytes)
    }
  }

  /** The single-flight acquisition every entry point goes through. An
    * entry is current when its version matches; otherwise (a build-once
    * name whose data key changed) the caller replaces it, after any build
    * still in flight finishes.
    */
  private def acquire(k: String, kind: Kind, version: String)(build: => AnyRef)(
      weigh: AnyRef => Long): AnyRef = {
    var out: Option[AnyRef] = None
    while (out.isEmpty) {
      val (e, mine) = entries.synchronized {
        val cur = entries.get(k)
        if (cur != null && (cur.version == version || !cur.result.isDone)) (cur, false)
        else {
          if (cur != null) totalBytes -= cur.bytes
          val e = new Entry(kind, version)
          entries.put(k, e)
          (e, true)
        }
      }
      if (mine) {
        val v =
          try build
          catch {
            case t: Throwable =>
              entries.synchronized(entries.remove(k, e))
              e.result.completeExceptionally(t)
              throw t
          }
        val w = weigh(v)
        entries.synchronized {
          e.bytes = w
          if (entries.get(k) eq e) totalBytes += w
        }
        e.result.complete(v)
        out = Some(v)
      } else if (!e.result.isDone && (e.builder eq Thread.currentThread())) {
        throw new IllegalStateException(s"memo key $k re-acquired inside its own build")
      } else {
        // a failed build leaves nothing behind: loop and build it here
        try {
          val v = e.result.join()
          if (e.version == version) out = Some(v)
        } catch { case _: java.util.concurrent.CompletionException => () }
      }
    }
    evictBeyondCap(k)
    out.get
  }

  /** Drop least-recently acquired frames and values until the total fits
    * the cap, never `keep` (the entry just acquired). Victims leave the
    * map under the lock; their directories are deleted after it.
    */
  private def evictBeyondCap(keep: String): Unit = {
    val victims = entries.synchronized {
      if (totalBytes <= capBytes) Nil
      else {
        val it = entries.entrySet().iterator()
        val out = List.newBuilder[Entry]
        while (totalBytes > capBytes && it.hasNext) {
          val me = it.next()
          val e = me.getValue
          if (me.getKey != keep && e.kind != Once && e.result.isDone) {
            it.remove()
            totalBytes -= e.bytes
            evicted.incrementAndGet()
            out += e
          }
        }
        out.result()
      }
    }
    victims.filter(_.kind == Frame)
      .foreach(e => deleteDir(new java.io.File(e.result.join().asInstanceOf[String])))
  }

  /** Conservative in-heap size of a memoized value — recursive over the
    * shapes models take (nested arrays / seqs of longs, string pairs for
    * BPE merges). Unknown leaves count a flat 64 bytes.
    */
  private[graft] def approxBytes(v: Any): Long = v match {
    case _: Long | _: Int | _: Double | _: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Double => 8L
    case s: String => 40L + 2L * s.length
    case (a, b) => 24L + approxBytes(a) + approxBytes(b)
    case arr: Array[_] => 16L + arr.iterator.map(approxBytes).sum
    case seq: scala.collection.Seq[_] => 24L + seq.iterator.map(approxBytes).sum
    case _ => 64L
  }

  private def dirBytes(p: java.io.File): Long =
    if (p.isFile) p.length()
    else Option(p.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)

  private def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete(): Unit
  }
}
