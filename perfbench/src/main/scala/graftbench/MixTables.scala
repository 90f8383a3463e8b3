package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded stand-in for the star-schema + events + corpus tables the
  * operator gates read (`customer orders lineitem part supplier nation
  * region events documents embeddings`, one parquet file each, the same
  * column names and types). Sizes follow the 0.01 scale factor
  * (lineitem ≈ 60k rows); every value is a pure function of (seed, row).
  *
  * Traffic dimensions: `docDupShare` of the documents repeat an earlier
  * document exactly and as many again differ from one by one word, so the
  * dedup gates have work; embeddings come from 10 labelled clusters. */
final case class MixTables(seed: Long, scale: Double = 0.01,
                           docDupShare: Double = 0.05) {
  private def n(base: Double): Long = math.max(1L, math.round(base * scale))
  private def u(parts: String*): String = // uniform [0, 1)
    s"(pmod(xxhash64(CAST($seed AS BIGINT), ${parts.mkString(", ")}), 1000000) / 1000000.0)"
  private def pick(xs: Seq[String], parts: String*): String =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), " +
      s"CAST(pmod(xxhash64(CAST($seed AS BIGINT), ${parts.mkString(", ")}), ${xs.size}) + 1 AS INT))"

  private val vocab = Seq("a", "the", "row", "table", "value", "key", "scan",
    "join", "agg", "sort", "hash", "window", "stream", "batch", "spark",
    "query", "data", "column", "part", "line", "order", "customer", "group",
    "filter", "merge", "vector", "fast", "slow", "big", "small")

  def tables(spark: SparkSession): Map[String, DataFrame] = {
    def range(rows: Long) = spark.range(0, rows, 1,
      math.max(1, math.min(8, (rows / 20000).toInt + 1)))
    val customers = n(150000); val orders = n(1500000); val parts = n(200000)
    val suppliers = n(10000); val users = math.max(10L, n(15000))
    val docs = n(50000); val vecs = n(50000); val events = math.max(100L, n(1000000))
    val dupDocs = math.round(docs * docDupShare)
    Map(
      "region" -> range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
        "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id + 1 AS INT)) AS r_name"),
      "nation" -> range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
        "'NATION_' || CAST(id AS STRING) AS n_name",
        "CAST(pmod(id, 5) AS INT) AS n_regionkey"),
      "customer" -> range(customers).selectExpr("id AS c_custkey",
        "'Customer#' || lpad(CAST(id AS STRING), 9, '0') AS c_name",
        s"CAST(floor(${u("id", "'cn'")} * 25) AS INT) AS c_nationkey",
        s"round(${u("id", "'cb'")} * 11000 - 1000, 2) AS c_acctbal",
        pick(Seq("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"), "id", "'cs'") + " AS c_mktsegment"),
      "supplier" -> range(suppliers).selectExpr("id AS s_suppkey",
        "'Supplier#' || lpad(CAST(id AS STRING), 9, '0') AS s_name",
        s"CAST(floor(${u("id", "'sn'")} * 25) AS INT) AS s_nationkey",
        s"round(${u("id", "'sb'")} * 10000, 2) AS s_acctbal"),
      "part" -> range(parts).selectExpr("id AS p_partkey",
        pick(Seq("small", "red", "blue", "hot", "old", "large"), "id", "'pa'") + " || ' ' || " +
          pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "plate"), "id", "'pb'") + " AS p_name",
        s"'Brand#' || CAST(CAST(floor(${u("id", "'pbr'")} * 25) AS INT) + 1 AS STRING) AS p_brand",
        pick(Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"), "id", "'pt'") + " AS p_type",
        s"CAST(floor(${u("id", "'ps'")} * 50) AS INT) + 1 AS p_size",
        "round(900 + pmod(id, 1000) * 0.1, 2) AS p_retailprice"),
      "orders" -> range(orders).selectExpr("id AS o_orderkey",
        s"CAST(floor(${u("id", "'oc'")} * $customers) AS BIGINT) AS o_custkey",
        pick(Seq("P", "F", "O"), "id", "'os'") + " AS o_orderstatus",
        s"round(1000 + ${u("id", "'op'")} * 499000, 2) AS o_totalprice",
        s"timestamp_seconds(788918400 + CAST(floor(${u("id", "'od'")} * 2400) AS BIGINT) * 86400) AS o_orderdate",
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "id", "'oo'") + " AS o_orderpriority"),
      "lineitem" -> range(orders * 4).selectExpr(
        s"CAST(floor(${u("id", "'lo'")} * $orders) AS BIGINT) AS l_orderkey",
        s"CAST(floor(${u("id", "'lp'")} * $parts) AS BIGINT) AS l_partkey",
        s"CAST(floor(${u("id", "'ls'")} * $suppliers) AS BIGINT) AS l_suppkey",
        "CAST(pmod(id, 7) + 1 AS INT) AS l_linenumber",
        s"CAST(floor(${u("id", "'lq'")} * 50) + 1 AS DOUBLE) AS l_quantity",
        s"round(900 + ${u("id", "'le'")} * 99000, 2) AS l_extendedprice",
        s"CAST(floor(${u("id", "'ld'")} * 11) AS DOUBLE) / 100 AS l_discount",
        s"CAST(floor(${u("id", "'lt'")} * 9) AS DOUBLE) / 100 AS l_tax",
        pick(Seq("A", "N", "R"), "id", "'lr'") + " AS l_returnflag",
        pick(Seq("F", "O"), "id", "'lst'") + " AS l_linestatus",
        s"timestamp_seconds(788918400 + CAST(floor(${u("id", "'lsd'")} * 2500) AS BIGINT) * 86400) AS l_shipdate"),
      "events" -> range(events).selectExpr("id AS event_id",
        // 30 days of traffic, evenly paced with sub-second jitter
        s"timestamp_micros(1704067200000000 + id * ${2592000000000L / events} + CAST(floor(${u("id", "'et'")} * 1000000) AS BIGINT)) AS ts",
        s"CAST(floor(${u("id", "'eu'")} * $users) AS BIGINT) AS user_id",
        pick(Seq("signup", "error", "click", "view", "purchase"), "id", "'ee'") + " AS event_type",
        s"round(-ln(1 - ${u("id", "'ev'")}) * 50 + 0.01, 2) AS value",
        s"'{\"k\": ' || CAST(CAST(floor(${u("id", "'ep'")} * 100) AS INT) AS STRING) || '}' AS props"),
      "documents" -> {
        val words = s"array(${vocab.map(w => s"'$w'").mkString(", ")})"
        // a document repeats (src_doc) or edits one word of an earlier one
        range(docs).selectExpr("id AS doc_id",
            s"CASE WHEN id >= ${2 * dupDocs} AND id < ${4 * dupDocs} THEN pmod(id, ${2 * dupDocs}) ELSE id END AS src_doc",
            s"id >= ${3 * dupDocs} AND id < ${4 * dupDocs} AS edited")
          .selectExpr("doc_id", "edited", s"""concat_ws(' ', transform(
              sequence(1, 8 + CAST(pmod(xxhash64(CAST($seed AS BIGINT), src_doc, 'len'), 80) AS INT)),
              i -> CASE WHEN edited AND i = 3 THEN 'edited'
                   ELSE element_at($words, CAST(pmod(xxhash64(CAST($seed AS BIGINT), src_doc, i), ${vocab.size}) + 1 AS INT)) END)) AS text""",
            pick(Seq("en", "en", "en", "zh", "es", "de", "fr"), "doc_id", "'lang'") + " AS lang",
            "'src' || CAST(pmod(doc_id, 20) AS STRING) AS source")
          .selectExpr("doc_id", "text", "lang", "source",
            "CAST(length(text) AS BIGINT) AS n_chars")
      },
      "embeddings" -> range(vecs).selectExpr("id AS vec_id",
          s"CAST(pmod(xxhash64(CAST($seed AS BIGINT), id, 'label'), 10) AS INT) AS label")
        .selectExpr("vec_id", "label", s"""transform(sequence(0, 63), j ->
            (pmod(xxhash64(CAST($seed AS BIGINT), label, j), 2000001) - 1000000) / 1000000.0
            + 0.35 * (pmod(xxhash64(CAST($seed AS BIGINT), vec_id, j), 2000001) - 1000000) / 1000000.0) AS raw""")
        .selectExpr("vec_id",
          "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (acc, y) -> acc + y * y)) AS FLOAT)) AS embedding",
          "label"))
  }

  /** Write every table as `<root>/<name>.parquet` (one file each). */
  def write(spark: SparkSession, root: String): Unit = {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name.parquet")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }
}
