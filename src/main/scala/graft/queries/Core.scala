package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver-contract queries exercising the reference's operator inventory
  * (SURVEY.md §2) over the star-schema fixtures, each with a DuckDB oracle
  * twin (FIXTURES.md §B mapping). Numeric outputs are computed in decimal or
  * integer space and only cast to double at the end, so the oracle hash is
  * exact; timestamps are rendered to strings/dates to dodge physical-type
  * mismatches between engines.
  */
object Core {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Fixtures.t(s, dir, name) // schema-asserted: drift fails with a named diff

  /** Socrata-shaped permit payload synthesized from orders (S1 fixtures). */
  private def permitsPayload(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").cast("string").as("permit_"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("issue_date"),
      lit("100").as("street_number"),
      lit("W").as("street_direction"),
      col("o_orderpriority").as("street_name"),
      concat(lit("work "), col("o_orderstatus")).as("work_description"),
      floor(col("o_totalprice")).cast("long").cast("string").as("reported_cost"),
      concat(lit("Clerk#"), col("o_custkey").cast("string")).as("contact_1_name"),
      lpad(col("o_custkey").cast("string"), 14, "0").as("pin_list")
    )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A: aggregation (A2/A3 family) --------------------------------
    "q1_lineitem_agg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          count(lit(1)).as("n")
        )
    },
    "q3_topn_revenue" -> { (s, dir) =>
      // customer is data-grain (scales with the facts), so no broadcast hint:
      // AQE picks broadcast at small SF and shuffled-hash at cluster scale.
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
        .agg(
          sum(
            col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          ).cast("double").as("revenue")
        )
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    // ---- P: filters / projections -------------------------------------
    "p7_date_filter" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
    },
    "p8_dim_filter" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("n_name"))
    },
    "p12_conditional_overwrite" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn(
          "note",
          when(col("o_orderkey") % 5 === 0, concat(lit("REINSTATED: "), col("o_orderpriority")))
        )
        .select(col("o_orderkey"), coalesce(col("note"), col("o_orderpriority")).as("final_note"))
    },
    // ---- F: pin / string / date scalar functions ----------------------
    "f_pin_normalize" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn(
          "pin_raw",
          when(col("o_orderkey") % 4 === 0, lpad(col("o_orderkey").cast("string"), 9, "0"))
            .when(col("o_orderkey") % 4 === 1, lpad(col("o_orderkey").cast("string"), 10, "0"))
            .when(col("o_orderkey") % 4 === 2, lpad(col("o_orderkey").cast("string"), 13, "0"))
            .otherwise(PinOps.hyphenate(lpad(col("o_orderkey").cast("string"), 14, "0")))
        )
        .select(col("o_orderkey"), col("pin_raw"), PinOps.normalizePin(col("pin_raw")).as("pin14"))
    },
    "f_pin_hyphenate" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("pin", lpad(col("o_orderkey").cast("string"), 14, "0"))
        .select(
          col("o_orderkey"),
          PinOps.hyphenate(col("pin")).as("pin_hyph"),
          PinOps.membershipKey(PinOps.hyphenate(col("pin"))).as("pin_key")
        )
    },
    "f8_abbreviations" -> { (s, dir) =>
      val suffix = when(col("p_partkey") % 5 === 0, lit("BUILDING MANAGEMENT ASSOCIATION"))
        .when(col("p_partkey") % 5 === 1, lit("STREET AVENUE BOULEVARD"))
        .when(col("p_partkey") % 5 === 2, lit("APARTMENTS CORPORATION OF ILLINOIS"))
        .when(col("p_partkey") % 5 === 3, lit("FOUNDATION PLAZA APARTMENT"))
        .otherwise(lit("COMPANY LIMITED INCORPORATED"))
      t(s, dir, "part")
        .withColumn("applicant", concat(upper(col("p_name")), lit(" "), suffix))
        .select(col("p_partkey"), TextOps.abbreviationFold(col("applicant")).as("shortened"))
    },
    "f11_keyword_tag" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.keywordTag(col("text")).as("matched_keywords"))
    },
    "f13_date_render" -> { (s, dir) =>
      Fixtures.events(s, dir).select(
        col("event_id"),
        TimeOps.renderMDY(col("ts")).as("mdy"),
        TimeOps.renderMDYPadded(col("ts")).as("mdy_padded"),
        TimeOps.renderYMD(col("ts")).as("ymd"),
        TimeOps.excelSerialToDate(col("event_id") % 40000).as("excel_date")
      )
    },
    // ---- X: reshape ----------------------------------------------------
    "x1_explode_pins" -> { (s, dir) =>
      // Synthesize a " | "-separated pin_list per order (linenumber order,
      // null for every 50th order), then X1: split + first-occurrence dedupe
      // + posexplode_outer (SURVEY §2.8).
      val li = t(s, dir, "lineitem")
      val lists = li
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(
            transform(
              array_sort(
                collect_list(
                  struct(col("l_linenumber").as("k"), lpad(col("l_partkey").cast("string"), 14, "0").as("v"))
                )
              ),
              x => x.getField("v")
            ),
            " | "
          ).as("pin_list")
        )
        .withColumn("pin_list", when(col("l_orderkey") % 50 === 0, lit(null)).otherwise(col("pin_list")))
      ReshapeOps
        .explodeDelimited(lists, col("pin_list"), " \\| ", "pin", "pos")
        .select(col("l_orderkey"), col("pos"), col("pin"))
    },
    "x2_unpivot" -> { (s, dir) =>
      ReshapeOps.unpivotWide(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type")),
        Seq("p_partkey"),
        Seq("p_name", "p_brand", "p_type"),
        "attr",
        "val"
      )
    },
    // ---- U3/U4: set intersection / difference (distinct semantics) -----
    "u3_intersect" -> { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("custkey")))
    },
    // customers with no urgent order (every fixture customer has SOME
    // order, so the unfiltered difference would be degenerately empty)
    "u4_except" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"))
        .except(
          t(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("custkey")))
    },
    // schema-EVOLUTION union: an old extract missing a column appended to
    // a new extract that has it — unionByName(allowMissingColumns) fills
    // the gap with NULL, the lakehouse schema-drift read; a positional
    // union would silently misalign columns instead
    "u5_union_evolve" -> { (s, dir) =>
      val oldExtract = t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val newExtract = t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      oldExtract.unionByName(newExtract, allowMissingColumns = true)
    },
    // ---- X3/A7/A8/W3: pivot, grouping sets, ranked window analytics ----
    // wide pivot with an explicit value list (deterministic columns; the
    // reference's wide-workbook reshape in the opposite direction of X2)
    "x3_pivot" -> { (s, dir) =>
      Fixtures
        .events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
    },
    // rollup subtotals: detail -> per-flag -> grand total in ONE pass
    // (Spark expands grouping sets before the partial agg, so subtotals
    // ride the same map-side combine as the detail rows)
    "a7_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping_id().cast("long").as("gid")
        )
    },
    // full cube over two dims (all four grouping sets)
    "a8_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
    },
    // ranked window analytics per user: inter-event gap (lag), next event
    // type (lead), quartile (ntile), percent_rank — one shuffle on the key,
    // all five functions share a single sorted window pass
    "w3_analytics" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Fixtures
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr")
        )
    },
    // ---- A1/A5/A6/W2: group-concat, dup-flag, first-per-group, buckets --
    "a1_group_concat" -> { (s, dir) =>
      ReshapeOps.groupConcatDistinct(
        t(s, dir, "customer"),
        Seq(col("c_nationkey")),
        col("c_name"),
        col("c_custkey"),
        "names"
      )
    },
    "a1_group_concat_agg" -> { (s, dir) =>
      // same semantics via the typed Aggregator (incremental dedupe — the
      // 100 TB buffer-bounded path, SURVEY §4.3)
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(graft.ops.agg.DistinctOrderedConcat.column(col("c_custkey"), col("c_name")).as("names"))
    },
    "a5_dup_flag" -> { (s, dir) =>
      ReshapeOps
        .dupFlag(t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"), "is_dup")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("is_dup"))
    },
    "a6_first_per_group" -> { (s, dir) =>
      // fixture lineitem contains exact-duplicate (orderkey,partkey,linenumber)
      // rows, so the deterministic tiebreak must extend to the payload cols
      ReshapeOps
        .firstPerGroup(
          t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey"),
          Seq(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        )
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
    },
    "w2_s8_numbered_buckets" -> { (s, dir) =>
      ReshapeOps
        .numberedBuckets(t(s, dir, "orders"), Seq(col("o_orderkey")), 250, "bucket", "lline")
        .select(col("o_orderkey"), col("bucket"), col("lline"))
    },
    // the bulk-data variant: content-hash bucket assignment + per-bucket
    // numbering — 64 independent window partitions instead of one global
    // sort through a single task
    "w2_s8_buckets_distributed" -> { (s, dir) =>
      ReshapeOps
        .numberedBucketsDistributed(
          t(s, dir, "orders"),
          Seq(col("o_orderkey").cast("string")),
          Seq(col("o_orderkey")),
          64, "bucket", "lline"
        )
        .select(col("o_orderkey"), col("bucket"), col("lline"))
    },
    // ---- J: joins -------------------------------------------------------
    "j1_suggested_pins" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val pinMap = ReshapeOps.groupConcatDistinct(
        c,
        Seq(col("c_nationkey").as("map_nation")),
        lpad(col("c_custkey").cast("string"), 14, "0"),
        col("c_custkey"),
        "suggested_pins"
      )
      // Bounded-universe doctrine: the customer-as-PIN-universe frame is
      // bounded by county geography in the reference domain (it fits an
      // in-memory set there, permit_cleaning.py:438), so broadcast is the
      // faithful plan — not a fact-grain force-broadcast.
      t(s, dir, "orders")
        .join(broadcast(c.select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(pinMap), col("c_nationkey") === col("map_nation"), "left")
        .select(col("o_orderkey"), coalesce(col("suggested_pins"), lit("")).as("suggested_pins"))
    },
    "j4_anti_dedupe" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def canon(df: DataFrame): DataFrame =
        df.select(
          col("o_orderkey"),
          lpad(col("o_custkey").cast("string"), 14, "0").as("parid"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("permdt"),
          col("o_totalprice").cast("decimal(38,2)").as("amount"),
          TextOps.addrDedupeKey(col("o_orderpriority")).as("note2"),
          TextOps.smartfileCanon(col("o_orderstatus")).as("user43")
        )
      val left = canon(o)
      val existing = canon(o.filter(col("o_orderkey") % 3 === 0))
        .drop("o_orderkey")
      LinkOps
        .antiDedupe(left, existing, Seq("parid", "permdt", "amount", "note2", "user43"))
        .select(col("o_orderkey"), col("parid"))
    },
    "j5_semi_membership" -> { (s, dir) =>
      // Bounded-universe doctrine: customer stands in for the county parcel
      // universe here (the reference holds it in an in-memory set,
      // permit_cleaning.py:438) — bounded by geography, so broadcast is the
      // faithful plan. Adjudicated distinct from fact-grain force-broadcasts.
      val buildingOrders = t(s, dir, "orders")
        .join(
          broadcast(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey")
        )
        .select(col("o_orderkey"))
      LinkOps
        .semiMembership(t(s, dir, "lineitem"), buildingOrders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
    "j6_anti_probe" -> { (s, dir) =>
      val probes = t(s, dir, "orders")
        .select(
          (col("o_custkey") + when(col("o_custkey") % 7 === 0, lit(1000000)).otherwise(lit(0)))
            .as("probe_key")
        )
        .distinct()
      LinkOps
        .antiMembership(probes, t(s, dir, "customer"), col("probe_key") === col("c_custkey"))
        .select(col("probe_key"))
    },
    // ---- §2.10: the flagship validate-and-partition ---------------------
    "vp_upload" -> { (s, dir) => validatePartition(s, dir)._1 },
    "vp_review" -> { (s, dir) => validatePartition(s, dir)._2 },
    // ---- U: set ops ------------------------------------------------------
    "u2_union_distinct" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def slice(y: Int) =
        o.filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey"), col("o_orderstatus"))
      slice(1994).unionByName(slice(1995)).unionByName(slice(1994)).distinct()
    },
    "u1_union_append" -> { (s, dir) =>
      // bind_rows with missing columns → null-filled (helper.R:56-59)
      val o = t(s, dir, "orders")
      val a = o.filter(year(col("o_orderdate")) === 1994)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val b = o.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("o_orderstatus"))
      a.unionByName(b, allowMissingColumns = true)
    },
    // ---- A2/A4: scalar aggregates ----------------------------------------
    "a2_scalar_max" -> { (s, dir) =>
      // MAX(taxyr) WHERE cur='Y' twin (chicago/permit_cleaning.py:501-506)
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
    },
    "a4_minmax_range" -> { (s, dir) =>
      // sheet date-range derivation (format_reviewed…py:149-169)
      Fixtures.events(s, dir).agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_ts"),
        count(lit(1)).as("n")
      )
    },
    // ---- J2/J3: two-key join, crosswalk remap ----------------------------
    "j2_two_key_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val dim = li
        .groupBy(col("l_partkey").as("d_partkey"), col("l_suppkey").as("d_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("min_price"))
      li.join(
          dim,
          col("l_partkey") === col("d_partkey") && col("l_suppkey") === col("d_suppkey"),
          "left"
        )
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("min_price"))
    },
    "j3_crosswalk_remap" -> { (s, dir) =>
      // PIN := coalesce(meta_pin, PIN) (2023/format_legacy_2023.R:40-43)
      val cw = t(s, dir, "nation")
        .select(col("n_name").as("original_pin"), concat(lit("META_"), col("n_name")).as("meta_pin"))
        .filter(col("n_nationkey") < 10)
      val df = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("pin"))
      LinkOps.lookupRemap(df, cw, "pin", "original_pin", "meta_pin")
    },
    // ---- F: remaining scalar-function family -----------------------------
    "f7_address_concat" -> { (s, dir) =>
      // pandas " ".join keeps empty slots → double spaces (SURVEY §1.3)
      t(s, dir, "customer").select(
        col("c_custkey"),
        TextOps.addressConcat(
          lit("100"),
          when(col("c_custkey") % 2 === 0, col("c_mktsegment")),
          col("c_name")
        ).as("address")
      )
    },
    "f12_hyperlink" -> { (s, dir) =>
      // null / hyphenated-14 / comma list / short variants exercise each branch
      val pin14 = lpad(col("o_custkey").cast("string"), 14, "0")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        TextOps.pinHyperlink(
          when(col("o_orderkey") % 7 === 0, lit(null))
            .when(col("o_orderkey") % 5 === 0, concat(pin14, lit(", "), pin14))
            .when(col("o_orderkey") % 3 === 0, PinOps.hyphenate(pin14))
            .otherwise(pin14)
        ).as("pin_link"),
        TextOps.addressHyperlink(
          when(col("o_orderkey") % 11 === 0, lit(null)).otherwise(concat(lit("100 W "), col("o_orderpriority")))
        ).as("addr_link")
      )
    },
    "f14_parse_flexible" -> { (s, dir) =>
      // mixed source formats + junk -> first matching format wins, junk
      // coerces to null (pd.to_datetime loose parse, F14)
      val d = col("o_orderdate")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        TimeOps.renderYMD(
          TimeOps.parseFlexible(
            when(col("o_orderkey") % 5 === 0, date_format(d, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
              .when(col("o_orderkey") % 5 === 1, date_format(d, "yyyy-MM-dd HH:mm:ss"))
              .when(col("o_orderkey") % 5 === 2, date_format(d, "MM/dd/yyyy"))
              .when(col("o_orderkey") % 5 === 3, lit("certainly-not-a-date"))
              .otherwise(date_format(d, "yyyy-MM-dd"))
          )
        ).as("parsed_ymd")
      )
    },
    "f17_year_extract" -> { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        TimeOps.yearOf(date_format(col("o_orderdate"), "MM/dd/yyyy")).as("yr")
      )
    },
    "f18_bround_halfeven" -> { (s, dir) =>
      // pandas round() is HALF_EVEN; Spark round() is HALF_UP → bround parity
      t(s, dir, "orders").select(
        col("o_orderkey"),
        (floor(col("o_totalprice")) + lit(0.5)).as("x"),
        bround(floor(col("o_totalprice")) + lit(0.5)).cast("long").as("rounded")
      )
    },
    "f19_decimal_canon" -> { (s, dir) =>
      // Decimal("{:.2f}") join-key canonicalization (permit_cleaning.py:854-858)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(38,2)").cast("string").as("amount_canon")
      )
    },
    // ---- P10/P11 + F2: blacklist filter, null-fill, digit strip ----------
    "p10_p11_blacklist_nullfill" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderkey") % 29 === 0, lit("00000000000000"))
            .when(col("o_orderkey") % 7 === 0, lit(null))
            .otherwise(concat(lit("PIN-"), lpad(col("o_custkey").cast("string"), 10, "0")))
            .as("pin_raw")
        )
        .filter(coalesce(col("pin_raw"), lit("")) =!= "00000000000000") // P10
        .select(
          col("o_orderkey"),
          coalesce(col("pin_raw"), lit("")).as("pin_filled"), // P11
          PinOps.stripNonDigits(coalesce(col("pin_raw"), lit(""))).as("pin_digits") // F2
        )
    },
    // ---- O2: multi-key sort incl. the string-sort quirk ------------------
    "o2_multikey_sort" -> { (s, dir) =>
      // "pin10" < "pin2" lexicographically (permit_cleaning.py:609) — the
      // rank column materializes the order for the hash compare
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        // ×5 pushes values past 9 so the quirk is live: "pin10" < "pin5"
        concat(lit("pin"), (col("l_linenumber") * 5).cast("string")).as("pin_type"),
        col("l_partkey")
      )
      li.withColumn(
        "rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("l_orderkey"), col("pin_type"), col("l_partkey"))
        )
      )
    },
    // ---- S3: CSV cache roundtrip (forced string dtypes) ------------------
    "s3_csv_roundtrip" -> { (s, dir) =>
      val path = Scratch.dir("pin_universe", dir)
      val uni = t(s, dir, "customer").select(
        lpad(col("c_custkey").cast("string"), 14, "0").as("pin"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("pin10"),
        concat(lit("ADDR "), col("c_name")).as("prop_address_full")
      )
      graft.Memo.once(path, dir)(graft.sources.Sources.writePinUniverseCsv(uni, path))
      graft.sources.Sources.readPinUniverseCsv(s, path)
    },
    // ---- S1: schema-pinned JSON scan roundtrip ---------------------------
    "s1_json_roundtrip" -> { (s, dir) =>
      val path = Scratch.dir("permits_json", dir)
      graft.Memo.once(path, dir)(permitsPayload(s, dir).write.mode("overwrite").json(path))
      graft.sources.Sources.readPermitsJson(s, path)
    },
    // ---- S5: metadata-predicate scan (cell-color filter modeled as a
    // boolean flag column, SURVEY §2.1) ------------------------------------
    "s5_flag_filter" -> { (s, dir) =>
      // reviewer flag = fill-color predicate; the engine models formatting
      // metadata as a data column and filters on it
      t(s, dir, "orders")
        .withColumn(
          "flagged",
          col("o_orderkey") % 3 === 0 || col("o_orderkey") % 7 === 0
        )
        .filter(col("flagged"))
        .select(col("o_orderkey"), col("o_orderstatus"))
    },
    // ---- S5b: REAL cell-fill-color predicate scan ------------------------
    // the reference filters reviewed sheets on the PIN cell's BACKGROUND
    // COLOR (format_reviewed_permits_for_upload.py:31-83: yellow FFFFFF00,
    // orange FFFFC000, or the theme-7/tint≈0.4 fill). Here the colors are
    // real: written into styles.xml by the engine's own sink, read back as
    // a fill_spec column by the styled scan, and filtered with the
    // reference's exact flag predicate
    "s5_color_filter" -> { (s, dir) =>
      val path = Scratch.dir("xlsx_color", dir) + "/reviewed.xlsx"
      val sheet = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("custkey"),
        lpad(col("c_custkey").cast("string"), 14, "0").as("pin"),
        col("c_name").as("name"),
        // deterministic reviewer-coloring stand-in; first match wins, and
        // green FF92D050 is a real color that must NOT flag
        when(col("c_custkey") % 13 === 0, lit("FF92D050"))
          .when(col("c_custkey") % 5 === 0, lit("FFFFFF00"))
          .when(col("c_custkey") % 7 === 0, lit("FFFFC000"))
          .when(col("c_custkey") % 11 === 0, lit("theme:7:0.3999755851924192"))
          .as("pin_fill")
      )
      graft.Memo.once(new java.io.File(path).getParent, dir)(
        graft.sources.Xlsx.writeSheets(
          Seq("PIN Errors" -> sheet), path, fillColumns = Map("pin" -> "pin_fill")))
      graft.sources.Xlsx
        .readWithFill(s, path, Some("PIN Errors"), "pin")
        .filter(graft.sources.Xlsx.fillIsFlagged(col("fill_spec")))
        .select(col("custkey"), col("pin"), col("name"), col("fill_spec"))
    },
    // the QC artifact of the same flow (format_reviewed_permits_for_upload
    // .py:86-120): a COPY of the workbook with flagged rows deleted and all
    // remaining formatting preserved — here the green non-flag fill must
    // survive the rewrite and the flagged rows must be gone
    "s5_qc_cleaned" -> { (s, dir) =>
      val base = Scratch.dir("xlsx_qc", dir)
      val orig = base + "/reviewed.xlsx"
      val cleaned = base + "/cleaned.xlsx"
      val sheet = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("custkey"),
        lpad(col("c_custkey").cast("string"), 14, "0").as("pin"),
        col("c_name").as("name"),
        when(col("c_custkey") % 13 === 0, lit("FF92D050"))
          .when(col("c_custkey") % 5 === 0, lit("FFFFFF00"))
          .when(col("c_custkey") % 7 === 0, lit("FFFFC000"))
          .when(col("c_custkey") % 11 === 0, lit("theme:7:0.3999755851924192"))
          .as("pin_fill")
      )
      graft.Memo.once(base, dir) {
        graft.sources.Xlsx.writeSheets(
          Seq("PIN Errors" -> sheet), orig, fillColumns = Map("pin" -> "pin_fill"))
        graft.sources.Xlsx.removeFlaggedRows(orig, cleaned, "PIN Errors", "pin")
      }
      graft.sources.Xlsx
        .readWithFill(s, cleaned, Some("PIN Errors"), "pin")
        .select(col("custkey"), col("pin"), col("fill_spec"))
    },
    // ---- J7: co-located bucketed join (the fact-fact shape at 100 TB) ----
    // both sides persisted bucketed+sorted on the key; the join stage then
    // reads bucket i against bucket i with NO exchange (plan asserted in
    // BucketOpsSpec) — layout cost paid once, amortized over every join
    "j7_bucketed_join" -> { (s, dir) =>
      val left = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
      val right = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.ops.BucketOps
        .bucketedEquiJoin(s, left, right, "custkey", buckets = 8, tag = "j7")
        .select(col("custkey"), col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"))
    },
    // ---- S10: partition-pruned layout roundtrip --------------------------
    // year-partitioned parquet layout; the year predicate prunes whole
    // directories at planning time (PartitionFilters — asserted in
    // SourcesSpec), the 100 TB form of the P7 date-range filter
    "s10_partition_pruned" -> { (s, dir) =>
      val path = Scratch.dir("partitioned", dir)
      graft.Memo.once(path, dir)(graft.sources.Sources.writePartitioned(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("yr")),
        path, "yr"))
      s.read.parquet(path)
        .filter(col("yr") === 1995)
        .select(col("o_orderkey"), col("o_totalprice"), col("yr"))
    },
    // dynamic partition pruning over the year-partitioned layout: the
    // dim side (years where a customer cohort was active) is unknowable at
    // plan time, so the fact scan's partition filter is a RUNTIME
    // dynamicpruning subquery fed by the reused broadcast — the mechanism
    // that keeps a 100 TB partitioned fact from full-scanning under a
    // selective dim join (plan-asserted in PlanAuditSpec)
    "s10_dpp_join" -> { (s, dir) =>
      val path = Scratch.dir("partitioned_dpp", dir)
      graft.Memo.once(path, dir)(graft.sources.Sources.writePartitioned(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            year(col("o_orderdate")).as("yr")),
        path, "yr"))
      val fact = s.read.parquet(path)
      val dim = broadcast(
        t(s, dir, "orders")
          .filter(col("o_custkey") % 50 === 7)
          .select(year(col("o_orderdate")).as("yr"))
          .distinct())
      fact
        .join(dim, Seq("yr"))
        .groupBy(col("yr"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice")).cast("long")).as("total"))
    },
    // ---- S11: ORC columnar roundtrip -------------------------------------
    // second columnar format (orc-core ships with Spark): write, scan back
    // with a predicate that reaches the reader (PushedFilters asserted in
    // SourcesSpec) — format portability for warehouse interop
    "s11_orc_roundtrip" -> { (s, dir) =>
      val path = Scratch.dir("orc_rt", dir)
      graft.Memo.once(path, dir)(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode("overwrite").orc(path))
      s.read
        .orc(path)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    // ---- S8: batched sink roundtrip (≤250 rows per file) -----------------
    // S4: REAL xlsx scan (JDK-only codec) — write a workbook, scan it back
    // through the executor-parallel binaryFile reader
    "s4_xlsx_roundtrip" -> { (s, dir) =>
      val path = Scratch.dir("xlsx_rt", dir) + "/customers.xlsx"
      val sheet = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("custkey"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment")
      )
      graft.Memo.once(new java.io.File(path).getParent, dir)(
        graft.sources.Xlsx.writeSheets(Seq("Customers" -> sheet), path))
      graft.sources.Xlsx.read(s, path, Some("Customers"))
    },
    "s8_batched_sink" -> { (s, dir) =>
      val path = Scratch.dir("batched", dir)
      val upload = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.Memo.once(path, dir)(graft.sources.Sources.writeBatched(upload, path, 250))
      s.read.parquet(path)
    },
    // ---- S9 (packaging half): zip-archive sink round-trip ----------------
    // batched CSVs → one DETERMINISTIC zip (the reference's `zip -r` CI
    // step) → read the archive back executor-side (binaryFile scan, one
    // task per archive) and re-emit the data rows; hash-matching the
    // source relation proves the package is lossless. Upload/notify stay
    // in CI (network boundary, SURVEY §2.1).
    "s9_zip_archive" -> { (s, dir) =>
      import s.implicits._
      val base = Scratch.dir("s9_csv", dir)
      val zip = new java.io.File(Scratch.dir("s9_zip", dir), "permits.zip").getAbsolutePath
      val upload = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(
          col("o_orderkey").cast("string").as("permit_"),
          floor(col("o_totalprice")).cast("long").cast("string").as("reported_cost"))
      graft.Memo.once(base, dir) {
        upload.write.mode("overwrite").option("header", "true")
          .option("maxRecordsPerFile", 250L).csv(base)
        graft.sources.Sources.zipDirectory(base, zip)
      }
      s.read.format("binaryFile").load(zip)
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
          val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          var e = zin.getNextEntry
          while (e != null) {
            if (!e.isDirectory && e.getName.endsWith(".csv")) {
              val text = new String(zin.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
              text.split("\n").iterator.drop(1).filter(_.nonEmpty).foreach { line =>
                val c = line.split(",", -1)
                rows += ((c(0), c(1)))
              }
            }
            e = zin.getNextEntry
          }
          rows
        }
        .toDF("permit_", "reported_cost")
    },
    // ---- S1b: DSv2 connector with real filter/column pushdown ------------
    // the same connector over a GZIPPED dump: .json.gz members are
    // unsplittable, so each is one reader (parallelism across files); the
    // full row set must round-trip identically to the plain-text scan
    "s1_gz_roundtrip" -> { (s, dir) =>
      val path = Scratch.dir("permits_gz", dir)
      graft.Memo.once(path, dir)(
        permitsPayload(s, dir).write.mode("overwrite")
          .option("compression", "gzip").json(path))
      s.read
        .format("graft.sources.PermitsJsonSource")
        .option("path", path)
        .schema(graft.sources.Sources.permitsRawSchema)
        .load()
    },
    "s1_dsv2_pushdown" -> { (s, dir) =>
      // own path — Verify dumps queries concurrently, so sharing
      // s1_json_roundtrip's directory would race its overwrite
      val path = Scratch.dir("permits_dsv2", dir)
      graft.Memo.once(path, dir)(permitsPayload(s, dir).write.mode("overwrite").json(path))
      s.read
        .format("graft.sources.PermitsJsonSource")
        .option("path", path)
        .schema(graft.sources.Sources.permitsRawSchema)
        .load()
        .filter(col("issue_date") >= "1995-01-01" && col("issue_date") < "1996-01-01")
        .select(col("permit_"), col("issue_date"), col("pin_list"))
    },
    // the SoQL `$select=count(*),min(c),max(c)` aggregate form pushed into
    // the DSv2 scan: each partition emits ONE partial row (count/min/max
    // over its surviving lines) and Spark's residual aggregate merges —
    // the scan moves |partitions| rows instead of the row set
    "s1_agg_pushdown" -> { (s, dir) =>
      val path = Scratch.dir("permits_aggpd", dir)
      graft.Memo.once(path, dir)(permitsPayload(s, dir).write.mode("overwrite").json(path))
      s.read
        .format("graft.sources.PermitsJsonSource")
        .option("path", path)
        .schema(graft.sources.Sources.permitsRawSchema)
        .load()
        .filter(col("issue_date") >= "1995-01-01")
        .agg(
          count(lit(1)).as("n_permits"),
          min(col("issue_date")).as("first_issue"),
          max(col("issue_date")).as("last_issue"))
    },
    // the reference's `$order=issue_date DESC` + `$limit` pair pushed into
    // the same DSv2 scan (permit_cleaning.py:546-547): each partition
    // returns its bounded local top-N, Spark's residual Sort+Limit makes
    // the global answer exact. permit_ DESC tiebreak keeps the row set
    // deterministic under the hash compare.
    "s1_limit_pushdown" -> { (s, dir) =>
      val path = Scratch.dir("permits_topn", dir)
      graft.Memo.once(path, dir)(permitsPayload(s, dir).write.mode("overwrite").json(path))
      s.read
        .format("graft.sources.PermitsJsonSource")
        .option("path", path)
        .schema(graft.sources.Sources.permitsRawSchema)
        .load()
        .filter(col("issue_date") >= "1995-01-01")
        .select(col("permit_"), col("issue_date"), col("pin_list"))
        .orderBy(col("issue_date").desc, col("permit_").desc)
        .limit(100)
    },
    // ---- S2: warehouse SQL surface (registered views + spark.sql) --------
    "s2_sql_scan" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("vw_customer")
      t(s, dir, "nation").createOrReplaceTempView("vw_nation")
      s.sql("""
        SELECT DISTINCT lpad(CAST(c_custkey AS STRING), 14, '0') AS pin,
               n_name, concat('ADDR ', c_name) AS prop_address_full
        FROM vw_customer JOIN vw_nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment = 'BUILDING'
      """)
    }
  )

  /** Synthetic permits over orders×customer + the §2.10 rule suite. Every
    * divisor below plants one class of invalid row; the universe is the
    * zero-padded customer key set.
    */
  private def validatePartition(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val permits = o
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey").as("permit_id"),
        when(col("o_orderkey") % 13 === 0, lpad((col("o_custkey") + 900000).cast("string"), 14, "0"))
          .when(col("o_orderkey") % 17 === 0, lpad(col("o_custkey").cast("string"), 13, "0"))
          .when(col("o_orderkey") % 23 === 0, lit("   "))
          .otherwise(lpad(col("o_custkey").cast("string"), 14, "0"))
          .as("pin"),
        when(col("o_orderkey") % 19 === 0, concat(col("c_name"), lit(" "), repeat(lit("X"), 40)))
          .otherwise(concat(lit("ADDR "), col("c_name")))
          .as("address"),
        when(col("o_orderkey") % 23 === 0, lit("")).otherwise(col("o_orderkey").cast("string")).as("permit_no"),
        when(col("o_orderkey") % 41 === 0, lit("not-a-date"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("issue_date"),
        when(col("o_orderkey") % 11 === 0, lit(-5.0)).otherwise(col("o_totalprice")).as("amount"),
        when(col("o_orderkey") % 37 === 0, repeat(lit("D"), 2001))
          .otherwise(concat(lit("desc "), col("o_orderpriority")))
          .as("descr"),
        when(col("o_orderkey") % 31 === 0, concat(col("c_name"), repeat(lit("A"), 50)))
          .otherwise(col("c_name"))
          .as("applicant")
      )
    val universe = broadcast(
      c.select(lpad(col("c_custkey").cast("string"), 14, "0").as("u_pin")).distinct()
    )
    val flagged = permits.join(universe, PinOps.membershipKey(col("pin")) === col("u_pin"), "left")
    import ValidateOps.{Rule, Rules}
    val rules = Seq(
      Rules.nonBlank(col("pin"), "pin"),
      Rules.pin14(col("pin")),
      Rule("pin_not_in_universe", "PIN is invalid", col("u_pin").isNull),
      Rules.maxLen(col("address"), 40, "Address"),
      Rules.nonBlank(col("permit_no"), "permit_no"),
      Rules.dateParses(col("issue_date")),
      Rules.amountRange(col("amount")),
      Rules.maxLen(col("descr"), 2000, "Description"),
      Rules.maxLen(col("applicant"), 50, "Applicant")
    )
    val (upload, review) = ValidateOps.partition(flagged, rules)
    val outCols = Seq("permit_id", "pin", "address", "permit_no", "issue_date", "amount", "descr", "applicant")
    (
      upload.select(outCols.map(col): _*),
      review.select(outCols.map(col) :+ array_join(col("errors"), "; ").as("errors"): _*)
    )
  }

  // ======================= DuckDB oracle twins =========================

  private val abbrevExpr: String =
    TextOps.Abbreviations.foldLeft("concat(upper(p_name), ' ', suffix)") {
      case (acc, (from, to)) => s"replace($acc, '$from', '$to')"
    }

  private val keywordListSql: String =
    TextOps.Keywords.map(k => s"'$k'").mkString("[", ", ", "]")

  /** Shared synthetic-permit + rule-suite SQL (vp_upload / vp_review). */
  private val vpFlaggedSql: String = """
    WITH p AS (
      SELECT o_orderkey AS permit_id,
        CASE WHEN o_orderkey % 13 = 0 THEN lpad(CAST(o_custkey + 900000 AS VARCHAR), 14, '0')
             WHEN o_orderkey % 17 = 0 THEN lpad(CAST(o_custkey AS VARCHAR), 13, '0')
             WHEN o_orderkey % 23 = 0 THEN '   '
             ELSE lpad(CAST(o_custkey AS VARCHAR), 14, '0') END AS pin,
        CASE WHEN o_orderkey % 19 = 0 THEN concat(c_name, ' ', repeat('X', 40))
             ELSE concat('ADDR ', c_name) END AS address,
        CASE WHEN o_orderkey % 23 = 0 THEN '' ELSE CAST(o_orderkey AS VARCHAR) END AS permit_no,
        CASE WHEN o_orderkey % 41 = 0 THEN 'not-a-date'
             ELSE strftime(o_orderdate, '%Y-%m-%d') END AS issue_date,
        CASE WHEN o_orderkey % 11 = 0 THEN -5.0 ELSE o_totalprice END AS amount,
        CASE WHEN o_orderkey % 37 = 0 THEN repeat('D', 2001)
             ELSE concat('desc ', o_orderpriority) END AS descr,
        CASE WHEN o_orderkey % 31 = 0 THEN concat(c_name, repeat('A', 50)) ELSE c_name END AS applicant
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), u AS (
      SELECT DISTINCT lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS u_pin FROM customer
    ), f AS (
      SELECT p.*, concat_ws('; ',
        CASE WHEN pin IS NULL OR length(trim(pin)) = 0 THEN 'Missing pin' END,
        CASE WHEN NOT (pin IS NULL OR length(trim(pin)) = 0)
                  AND length(replace(pin, '-', '')) <> 14 THEN 'PIN is not 14 digits' END,
        CASE WHEN u_pin IS NULL THEN 'PIN is invalid' END,
        CASE WHEN length(address) > 40 THEN 'Address > 40 characters' END,
        CASE WHEN permit_no IS NULL OR length(trim(permit_no)) = 0 THEN 'Missing permit_no' END,
        CASE WHEN NOT (issue_date IS NULL OR length(trim(issue_date)) = 0)
                  AND TRY_CAST(issue_date AS TIMESTAMP) IS NULL THEN 'Issue Date is not a valid date' END,
        CASE WHEN amount IS NULL OR amount < 1 OR amount > 2147483647
             THEN 'Amount must be a whole number between 1 and 2,147,483,647' END,
        CASE WHEN length(descr) > 2000 THEN 'Description > 2000 characters' END,
        CASE WHEN length(applicant) > 50 THEN 'Applicant > 50 characters' END
      ) AS errors
      FROM p LEFT JOIN u ON lpad(replace(coalesce(pin, ''), '-', ''), 14, '0') = u.u_pin
    )
  """

  /** The permit-payload JSON round-trip expectation — shared verbatim by
    * the plain-text and gzipped scan oracles so the two cannot drift.
    */
  private lazy val permitsRoundtripOracleSql: String =
    """SELECT CAST(o_orderkey AS VARCHAR) AS permit_,
              strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS issue_date,
              '100' AS street_number, 'W' AS street_direction,
              o_orderpriority AS street_name, concat('work ', o_orderstatus) AS work_description,
              CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS reported_cost,
              concat('Clerk#', CAST(o_custkey AS VARCHAR)) AS contact_1_name,
              lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS pin_list
       FROM orders"""

  val oracles: Map[String, String] = Map(
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_topn_revenue" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "p7_date_filter" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'""",
    "p8_dim_filter" ->
      """SELECT c_custkey, c_name, n_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND c_mktsegment = 'BUILDING'""",
    "p12_conditional_overwrite" ->
      """SELECT o_orderkey,
         coalesce(CASE WHEN o_orderkey % 5 = 0 THEN concat('REINSTATED: ', o_orderpriority) END,
                  o_orderpriority) AS final_note
         FROM orders""",
    "f_pin_normalize" ->
      """WITH raw AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0 THEN lpad(CAST(o_orderkey AS VARCHAR), 9, '0')
                  WHEN o_orderkey % 4 = 1 THEN lpad(CAST(o_orderkey AS VARCHAR), 10, '0')
                  WHEN o_orderkey % 4 = 2 THEN lpad(CAST(o_orderkey AS VARCHAR), 13, '0')
                  ELSE concat_ws('-',
                    substr(lpad(CAST(o_orderkey AS VARCHAR), 14, '0'), 1, 2),
                    substr(lpad(CAST(o_orderkey AS VARCHAR), 14, '0'), 3, 2),
                    substr(lpad(CAST(o_orderkey AS VARCHAR), 14, '0'), 5, 3),
                    substr(lpad(CAST(o_orderkey AS VARCHAR), 14, '0'), 8, 3),
                    substr(lpad(CAST(o_orderkey AS VARCHAR), 14, '0'), 11, 4)) END AS pin_raw
           FROM orders)
         SELECT o_orderkey, pin_raw,
           CASE WHEN length(replace(pin_raw, '-', '')) = 13 THEN concat('0', replace(pin_raw, '-', ''))
                WHEN length(replace(pin_raw, '-', '')) = 10 THEN concat(replace(pin_raw, '-', ''), '0000')
                WHEN length(replace(pin_raw, '-', '')) = 9 THEN concat('0', replace(pin_raw, '-', ''), '0000')
                ELSE replace(pin_raw, '-', '') END AS pin14
         FROM raw""",
    "f_pin_hyphenate" ->
      """WITH p AS (SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 14, '0') AS pin FROM orders)
         SELECT o_orderkey,
           concat_ws('-', substr(pin,1,2), substr(pin,3,2), substr(pin,5,3), substr(pin,8,3), substr(pin,11,4)) AS pin_hyph,
           lpad(replace(concat_ws('-', substr(pin,1,2), substr(pin,3,2), substr(pin,5,3), substr(pin,8,3), substr(pin,11,4)), '-', ''), 14, '0') AS pin_key
         FROM p""",
    "f8_abbreviations" ->
      s"""WITH base AS (
           SELECT p_partkey, p_name,
             CASE WHEN p_partkey % 5 = 0 THEN 'BUILDING MANAGEMENT ASSOCIATION'
                  WHEN p_partkey % 5 = 1 THEN 'STREET AVENUE BOULEVARD'
                  WHEN p_partkey % 5 = 2 THEN 'APARTMENTS CORPORATION OF ILLINOIS'
                  WHEN p_partkey % 5 = 3 THEN 'FOUNDATION PLAZA APARTMENT'
                  ELSE 'COMPANY LIMITED INCORPORATED' END AS suffix
           FROM part)
         SELECT p_partkey, $abbrevExpr AS shortened FROM base""",
    "f11_keyword_tag" ->
      s"""SELECT doc_id,
          coalesce(array_to_string(list_filter($keywordListSql, k -> contains(lower(coalesce(text, '')), lower(k))), ', '), '') AS matched_keywords
          FROM documents""",
    "f13_date_render" ->
      """SELECT event_id,
         strftime(ts, '%-m/%-d/%Y') AS mdy,
         strftime(ts, '%m/%d/%Y') AS mdy_padded,
         strftime(ts, '%Y-%m-%d') AS ymd,
         DATE '1899-12-30' + CAST(event_id % 40000 AS INTEGER) AS excel_date
         FROM events""",
    "x1_explode_pins" ->
      """WITH firsts AS (
           SELECT l_orderkey, lpad(CAST(l_partkey AS VARCHAR), 14, '0') AS pin, min(l_linenumber) AS ln
           FROM lineitem GROUP BY 1, 2
         ), numbered AS (
           SELECT l_orderkey, pin,
                  CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY ln, pin) AS INTEGER) AS pos
           FROM firsts
         )
         SELECT l_orderkey, pos, pin FROM numbered WHERE l_orderkey % 50 <> 0
         UNION ALL
         SELECT DISTINCT l_orderkey, CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR)
         FROM lineitem WHERE l_orderkey % 50 = 0""",
    "x2_unpivot" ->
      """SELECT p_partkey, attr, val
         FROM (SELECT p_partkey, p_name, p_brand, p_type FROM part)
         UNPIVOT (val FOR attr IN (p_name, p_brand, p_type))""",
    "u3_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT SELECT o_custkey FROM orders""",
    "u4_except" ->
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""",
    "u5_union_evolve" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 2 <> 0""",
    "x3_pivot" ->
      """SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
         FROM events GROUP BY user_id""",
    "a7_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "a8_cube" ->
      """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
    "w3_analytics" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
           lead(event_type, 1) OVER w AS next_type,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pr
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "a1_group_concat" ->
      """SELECT c_nationkey, string_agg(c_name, ', ' ORDER BY c_custkey) AS names
         FROM customer GROUP BY c_nationkey""",
    "a1_group_concat_agg" ->
      """SELECT c_nationkey, string_agg(c_name, ', ' ORDER BY c_custkey) AS names
         FROM customer GROUP BY c_nationkey""",
    "a5_dup_flag" ->
      """SELECT l_orderkey, l_partkey, l_linenumber,
         (count(*) OVER (PARTITION BY l_orderkey, l_partkey)) > 1 AS is_dup
         FROM lineitem""",
    "a6_first_per_group" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
         FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                            ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
               FROM lineitem)
         WHERE rn = 1""",
    "w2_s8_numbered_buckets" ->
      """SELECT o_orderkey,
         CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 250 AS BIGINT) AS bucket,
         CAST((row_number() OVER (ORDER BY o_orderkey) - 1) % 250 + 1 AS BIGINT) AS lline
         FROM orders""",
    "w2_s8_buckets_distributed" ->
      """WITH b AS (
           SELECT o_orderkey,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket
           FROM orders)
         SELECT o_orderkey, CAST(bucket AS BIGINT) AS bucket,
                CAST(row_number() OVER (PARTITION BY bucket ORDER BY o_orderkey) AS BIGINT) AS lline
         FROM b""",
    "j1_suggested_pins" ->
      """WITH pin_map AS (
           SELECT c_nationkey AS map_nation,
                  string_agg(lpad(CAST(c_custkey AS VARCHAR), 14, '0'), ', ' ORDER BY c_custkey) AS suggested_pins
           FROM customer GROUP BY c_nationkey)
         SELECT o_orderkey, coalesce(suggested_pins, '') AS suggested_pins
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN pin_map ON c_nationkey = map_nation""",
    "j4_anti_dedupe" ->
      """WITH canon AS (
           SELECT o_orderkey,
             lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS parid,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS permdt,
             CAST(o_totalprice AS DECIMAL(38,2)) AS amount,
             concat(o_orderpriority, ',,CHICAGO, IL') AS note2,
             substr(regexp_replace(o_orderstatus, '[():;+#*&''"@½]', '', 'g'), 1, 259) AS user43
           FROM orders)
         SELECT l.o_orderkey, l.parid
         FROM canon l
         ANTI JOIN (SELECT DISTINCT parid, permdt, amount, note2, user43
                    FROM canon WHERE o_orderkey % 3 = 0) r
         USING (parid, permdt, amount, note2, user43)""",
    "j5_semi_membership" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING')""",
    "j6_anti_probe" ->
      """WITH probes AS (
           SELECT DISTINCT o_custkey + CASE WHEN o_custkey % 7 = 0 THEN 1000000 ELSE 0 END AS probe_key
           FROM orders)
         SELECT probe_key FROM probes
         ANTI JOIN customer ON probe_key = c_custkey""",
    "vp_upload" ->
      (vpFlaggedSql +
        """SELECT permit_id, pin, address, permit_no, issue_date, amount, descr, applicant
         FROM f WHERE errors = ''"""),
    "vp_review" ->
      (vpFlaggedSql +
        """SELECT permit_id, pin, address, permit_no, issue_date, amount, descr, applicant, errors
         FROM f WHERE errors <> ''"""),
    "u2_union_distinct" ->
      """SELECT o_custkey, o_orderstatus FROM orders WHERE year(o_orderdate) = 1994
         UNION
         SELECT o_custkey, o_orderstatus FROM orders WHERE year(o_orderdate) = 1995""",
    "u1_union_append" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority
         FROM orders WHERE year(o_orderdate) = 1994
         UNION ALL BY NAME
         SELECT o_orderkey, o_orderstatus FROM orders WHERE year(o_orderdate) = 1995""",
    "a2_scalar_max" ->
      """SELECT strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
         FROM orders WHERE o_orderstatus = 'F'""",
    "a4_minmax_range" ->
      """SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts,
                count(*) AS n
         FROM events""",
    "j2_two_key_join" ->
      """WITH dim AS (
           SELECT l_partkey AS d_partkey, l_suppkey AS d_suppkey,
                  CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price
           FROM lineitem GROUP BY 1, 2)
         SELECT l_orderkey, l_linenumber, l_partkey, min_price
         FROM lineitem
         LEFT JOIN dim ON l_partkey = d_partkey AND l_suppkey = d_suppkey""",
    "j3_crosswalk_remap" ->
      """WITH cw AS (
           SELECT n_name AS original_pin, concat('META_', n_name) AS meta_pin
           FROM nation WHERE n_nationkey < 10)
         SELECT c_custkey, coalesce(meta_pin, n_name) AS pin
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN cw ON n_name = original_pin""",
    "f7_address_concat" ->
      """SELECT c_custkey,
         concat('100', ' ', CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment ELSE '' END, ' ', c_name) AS address
         FROM customer""",
    "f12_hyperlink" ->
      """WITH p AS (
           SELECT o_orderkey, o_orderpriority,
             lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS pin14,
             concat_ws('-',
               substr(lpad(CAST(o_custkey AS VARCHAR), 14, '0'), 1, 2),
               substr(lpad(CAST(o_custkey AS VARCHAR), 14, '0'), 3, 2),
               substr(lpad(CAST(o_custkey AS VARCHAR), 14, '0'), 5, 3),
               substr(lpad(CAST(o_custkey AS VARCHAR), 14, '0'), 8, 3),
               substr(lpad(CAST(o_custkey AS VARCHAR), 14, '0'), 11, 4)) AS hyph
           FROM orders
         ), v AS (
           SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  WHEN o_orderkey % 5 = 0 THEN concat(pin14, ', ', pin14)
                  WHEN o_orderkey % 3 = 0 THEN hyph
                  ELSE pin14 END AS pin
           FROM p
         )
         SELECT o_orderkey,
           CASE WHEN pin IS NULL THEN 'NO PIN FOUND'
                WHEN length(regexp_replace(pin, '\D', '', 'g')) = 14
                THEN concat('=HYPERLINK("https://www.cookcountyassessoril.gov/pin/',
                            regexp_replace(pin, '\D', '', 'g'), '", "', pin, '")')
                ELSE pin END AS pin_link,
           CASE WHEN o_orderkey % 11 = 0 THEN ''
                ELSE concat('=HYPERLINK("https://maps.cookcountyil.gov/cookviewer/?search=100 W ',
                            o_orderpriority, ', Chicago, IL", "Click here to open CookViewer")') END AS addr_link
         FROM v""",
    "f14_parse_flexible" ->
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL
              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS parsed_ymd
         FROM orders""",
    "f17_year_extract" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders""",
    "f18_bround_halfeven" ->
      """SELECT o_orderkey, floor(o_totalprice) + 0.5 AS x,
         CAST(round_even(floor(o_totalprice) + 0.5, 0) AS BIGINT) AS rounded
         FROM orders""",
    "f19_decimal_canon" ->
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR) AS amount_canon
         FROM orders""",
    "p10_p11_blacklist_nullfill" ->
      """WITH p AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 29 = 0 THEN '00000000000000'
                  WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE concat('PIN-', lpad(CAST(o_custkey AS VARCHAR), 10, '0')) END AS pin_raw
           FROM orders)
         SELECT o_orderkey, coalesce(pin_raw, '') AS pin_filled,
                regexp_replace(coalesce(pin_raw, ''), '[^0-9]', '', 'g') AS pin_digits
         FROM p WHERE coalesce(pin_raw, '') <> '00000000000000'""",
    "o2_multikey_sort" ->
      """SELECT l_orderkey, concat('pin', CAST(l_linenumber * 5 AS VARCHAR)) AS pin_type, l_partkey,
         CAST(row_number() OVER (ORDER BY l_orderkey,
              concat('pin', CAST(l_linenumber * 5 AS VARCHAR)), l_partkey) AS INTEGER) AS rank
         FROM lineitem""",
    "s3_csv_roundtrip" ->
      """SELECT lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin,
                lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS pin10,
                concat('ADDR ', c_name) AS prop_address_full
         FROM customer""",
    "s1_json_roundtrip" -> permitsRoundtripOracleSql,
    // gz scan must produce the identical row set — one oracle, zero drift
    "s1_gz_roundtrip" -> permitsRoundtripOracleSql,
    "s2_sql_scan" ->
      """SELECT DISTINCT lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin,
                n_name, concat('ADDR ', c_name) AS prop_address_full
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment = 'BUILDING'""",
    "s1_dsv2_pushdown" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS permit_,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS issue_date,
                lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS pin_list
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') >= '1995-01-01'
           AND strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') < '1996-01-01'""",
    "s1_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_permits,
                min(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f')) AS first_issue,
                max(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f')) AS last_issue
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') >= '1995-01-01'""",
    "s1_limit_pushdown" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS permit_,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') AS issue_date,
                lpad(CAST(o_custkey AS VARCHAR), 14, '0') AS pin_list
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') >= '1995-01-01'
         ORDER BY issue_date DESC, permit_ DESC
         LIMIT 100""",
    "s5_flag_filter" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE o_orderkey % 3 = 0 OR o_orderkey % 7 = 0""",
    "s5_color_filter" ->
      """WITH f AS (SELECT CAST(c_custkey AS VARCHAR) AS custkey,
                lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin, c_name AS name,
                CASE WHEN c_custkey % 13 = 0 THEN 'FF92D050'
                     WHEN c_custkey % 5 = 0 THEN 'FFFFFF00'
                     WHEN c_custkey % 7 = 0 THEN 'FFFFC000'
                     WHEN c_custkey % 11 = 0 THEN 'theme:7:0.3999755851924192'
                     ELSE NULL END AS fill_spec
              FROM customer)
         SELECT custkey, pin, name, fill_spec FROM f
         WHERE fill_spec IN ('FFFFFF00', 'FFFFC000', 'theme:7:0.3999755851924192')""",
    "s5_qc_cleaned" ->
      """WITH f AS (SELECT CAST(c_custkey AS VARCHAR) AS custkey,
                lpad(CAST(c_custkey AS VARCHAR), 14, '0') AS pin,
                CASE WHEN c_custkey % 13 = 0 THEN 'FF92D050'
                     WHEN c_custkey % 5 = 0 THEN 'FFFFFF00'
                     WHEN c_custkey % 7 = 0 THEN 'FFFFC000'
                     WHEN c_custkey % 11 = 0 THEN 'theme:7:0.3999755851924192'
                     ELSE NULL END AS fill_spec
              FROM customer)
         SELECT custkey, pin, fill_spec FROM f
         WHERE fill_spec IS NULL
            OR fill_spec NOT IN ('FFFFFF00', 'FFFFC000', 'theme:7:0.3999755851924192')""",
    "s4_xlsx_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS custkey, c_name AS name, c_mktsegment AS segment
         FROM customer""",
    "s8_batched_sink" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'""",
    "s9_zip_archive" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS permit_,
                CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS reported_cost
         FROM orders WHERE o_orderstatus = 'F'""",
    "j7_bucketed_join" ->
      """SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "s10_partition_pruned" ->
      """SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS yr
         FROM orders WHERE year(o_orderdate) = 1995""",
    "s10_dpp_join" ->
      """WITH dimy AS (SELECT DISTINCT year(o_orderdate) AS yr FROM orders WHERE o_custkey % 50 = 7)
         SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total
         FROM orders JOIN dimy ON year(o_orderdate) = dimy.yr
         GROUP BY 1""",
    "s11_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderstatus = 'F'"""
  )
}
