package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture loaders for the driver star schema (TESTDATA.md).
  *
  * Posture mirrors the reference's coerce-on-read robustness
  * (reference: chicago/permit_cleaning.py:639-641 `errors="coerce"`,
  * :1158-1164 forced dtypes on CSV re-read): the loader inspects what
  * physically arrived rather than assuming one parquet annotation, and
  * fails with a *named* schema diff instead of letting a refreshed
  * fixture surface as dozens of scattered analysis errors downstream.
  */
object Fixtures {

  private val integral: Set[DataType] = Set(IntegerType, LongType)
  private val fractional: Set[DataType] = Set(FloatType, DoubleType)
  private val str: Set[DataType]      = Set(StringType)
  private val tsLike: Set[DataType]   = Set(LongType, TimestampType, TimestampNTZType)
  private val dateLike: Set[DataType] = tsLike + DateType

  /** Accepted physical types per column, for EVERY driver fixture table —
    * encodings have shifted between fixture refreshes (events.ts has
    * shipped as TIMESTAMP(NANOS), TIMESTAMP_NTZ micros, and session-TZ
    * micros across rounds) and each accepted set names the encodings the
    * loaders can normalize. Columns beyond the listed ones are allowed
    * (the writer may add metadata columns).
    */
  private[graft] val accepted: Map[String, Map[String, Set[DataType]]] = Map(
    "region" -> Map("r_regionkey" -> integral, "r_name" -> str),
    "nation" -> Map("n_nationkey" -> integral, "n_name" -> str, "n_regionkey" -> integral),
    "customer" -> Map(
      "c_custkey"    -> integral,
      "c_name"       -> str,
      "c_nationkey"  -> integral,
      "c_acctbal"    -> fractional,
      "c_mktsegment" -> str),
    "supplier" -> Map(
      "s_suppkey"   -> integral,
      "s_name"      -> str,
      "s_nationkey" -> integral,
      "s_acctbal"   -> fractional),
    "part" -> Map(
      "p_partkey"     -> integral,
      "p_name"        -> str,
      "p_brand"       -> str,
      "p_type"        -> str,
      "p_size"        -> integral,
      "p_retailprice" -> fractional),
    "orders" -> Map(
      "o_orderkey"      -> integral,
      "o_custkey"       -> integral,
      "o_orderstatus"   -> str,
      "o_totalprice"    -> fractional,
      "o_orderdate"     -> dateLike,
      "o_orderpriority" -> str),
    "lineitem" -> Map(
      "l_orderkey"      -> integral,
      "l_partkey"       -> integral,
      "l_suppkey"       -> integral,
      "l_linenumber"    -> integral,
      "l_quantity"      -> fractional,
      "l_extendedprice" -> fractional,
      "l_discount"      -> fractional,
      "l_tax"           -> fractional,
      "l_returnflag"    -> str,
      "l_linestatus"    -> str,
      "l_shipdate"      -> dateLike),
    "events" -> Map(
      "event_id"   -> integral,
      "ts"         -> tsLike,
      "user_id"    -> integral,
      "event_type" -> str,
      "value"      -> fractional,
      "props"      -> str),
    "documents" -> Map(
      "doc_id"  -> integral,
      "text"    -> str,
      "lang"    -> str,
      "source"  -> str,
      "n_chars" -> integral),
    "embeddings" -> Map(
      "vec_id"    -> integral,
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = false),
                         ArrayType(DoubleType), ArrayType(DoubleType, containsNull = false)),
      "label"     -> integral)
  )

  /** Assert `df` satisfies the accepted-type sets for `name`; throws an
    * IllegalStateException naming every offending column at once.
    */
  private[graft] def assertSchema(df: DataFrame, name: String): DataFrame = {
    accepted.get(name).foreach { cols =>
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val diffs = cols.flatMap { case (col, ok) =>
        fields.get(col) match {
          case None => Some(s"$name.$col: MISSING (expected one of ${ok.map(_.simpleString).mkString("/")})")
          case Some(dt) if !ok.contains(dt) =>
            Some(s"$name.$col: got ${dt.simpleString}, expected one of ${ok.map(_.simpleString).mkString("/")}")
          case _ => None
        }
      }
      if (diffs.nonEmpty)
        throw new IllegalStateException(
          s"fixture schema mismatch for '$name':\n  " + diffs.mkString("\n  "))
    }
    df
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    assertSchema(s.read.parquet(s"$dir/$name.parquet"), name)

  /** `events.ts` arrives in whatever encoding the fixture writer last chose:
    * parquet TIMESTAMP(NANOS) (no native Spark type — read as long nanos
    * via `spark.sql.legacy.parquet.nanosAsLong`, which every engine
    * session sets at build, [[graft.EngineIO.configure]]), TIMESTAMP_NTZ
    * micros (current writers), or plain session-TZ TIMESTAMP. Normalize all three to micro-precision
    * session-TZ TimestampType so `unix_micros`/`window`/`date_format`
    * semantics match the DuckDB oracle (which reads the same parquet as a
    * naive timestamp; Verify pins the session TZ to UTC).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>          // TIMESTAMP(NANOS) read as long nanos
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>  // naive micros: reinterpret in session TZ (UTC)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>     // already instant-typed micros
        raw
      case other =>
        throw new IllegalStateException(
          s"fixture schema mismatch for 'events': ts has unsupported type ${other.simpleString}")
    }
  }
}
