package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** §2.1 Scans / sources. The reference ingests CSV and JSON-lines (its API
  * payload format) and we store parquet at rest; these queries prove all
  * three read paths with explicit schemas (schema-on-read, never inference
  * on the hot path — at 100 TB schema inference is a full extra scan).
  *
  * CSV/JSONL queries round-trip a projection of lineitem through a tmp file
  * and are oracle-checked against the original parquet — i.e. the oracle
  * verifies the text formats preserve values exactly. Every file and
  * layout these queries read back is a [[DerivedFiles]] build: a pure
  * function of the tables it reads, written once per tmp lifetime, so
  * repeated Verify/Bench runs pay only the read side.
  */
object Scans {

  /** Columns chosen to round-trip text formats losslessly (ints, strings,
    * X.0 doubles, ms timestamps).
    */
  private val rtCols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  private val rtSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_returnflag", StringType),
    StructField("l_quantity", DoubleType)))

  def scanParquet(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")

  private def buildCsv(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "csv_v3", "lineitem").files { p =>
      Tables.lineitem(s, dir).select(rtCols.map(col): _*)
        .write.option("header", "true").csv(p)
    }

  def scanCsv(s: SparkSession, dir: String): DataFrame =
    s.read.schema(rtSchema).option("header", "true").csv(buildCsv(s, dir))
      .orderBy("l_orderkey", "l_linenumber")

  private def buildJsonl(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "jsonl_v3", "lineitem").files { p =>
      Tables.lineitem(s, dir)
        .select((rtCols :+ "l_shipdate").map(col): _*)
        .write.json(p)
    }

  def scanJsonl(s: SparkSession, dir: String): DataFrame =
    s.read.schema(rtSchema.add(StructField("l_shipdate", TimestampType)))
      .json(buildJsonl(s, dir))
      .orderBy("l_orderkey", "l_linenumber")

  /** ORC round-trip — the second columnar format Spark ships natively.
    * Binary format, so unlike CSV/JSONL the full-fidelity columns
    * (double prices, timestamps) ride along untruncated.
    */
  private def buildOrc(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "orc_v3", "lineitem").files { p =>
      Tables.lineitem(s, dir)
        .select((rtCols ++ Seq("l_extendedprice", "l_shipdate")).map(col): _*)
        .write.orc(p)
    }

  def scanOrc(s: SparkSession, dir: String): DataFrame =
    s.read.orc(buildOrc(s, dir)).orderBy("l_orderkey", "l_linenumber")

  /** XML round-trip — Spark 4 ships the (formerly spark-xml) source
    * natively. rowTag framing, explicit schema on the read (same
    * schema-on-read rule as CSV/JSONL: no inference scan). XML is ~10×
    * the bytes of CSV for the same rows, so the round-trip covers a
    * deterministic 1-in-10 orderkey slice — format fidelity is proven
    * per-row, no need to pay the verbosity on the full table.
    */
  private def buildXml(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "xml_v3", "lineitem").files { p =>
      Tables.lineitem(s, dir).filter(col("l_orderkey") % 10 === 0)
        .select(rtCols.map(col): _*)
        .write.option("rowTag", "row").format("xml").save(p)
    }

  def scanXml(s: SparkSession, dir: String): DataFrame =
    s.read.schema(rtSchema).option("rowTag", "row").format("xml")
      .load(buildXml(s, dir))
      .orderBy("l_orderkey", "l_linenumber")

  /** Partitioned layout + dynamic partition pruning — the single most
    * valuable scan optimization at 100 TB: lineitem written once
    * hive-partitioned by ship year (the derived-cache pattern above, so
    * repeated runs pay only the read), then joined on the partition
    * column against a dim restricted by a NON-join predicate (urgent
    * 1996 orders). The year set is only known at runtime, so static
    * partition pruning can't fire; Catalyst inserts a DPP subquery that
    * reuses the dim broadcast and the fact scan reads ONE ship_year
    * directory out of seven (PlanShapeSpec asserts `dynamicpruning` in
    * the partition filters). Oracle: same join over the unpartitioned
    * originals.
    */
  private def buildPartitioned(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "partyear_v3", "lineitem").files { p =>
      Tables.lineitem(s, dir)
        .withColumn("ship_year", year(col("l_shipdate")))
        .write.partitionBy("ship_year").parquet(p)
    }

  def scanPartitioned(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(buildPartitioned(s, dir))
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(year(col("o_orderdate")).as("ship_year")).distinct()
    fact.join(dim, Seq("ship_year"))
      .groupBy(col("ship_year").cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n"), graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("ship_year")
  }

  /** Bucketed sort-merge (SMB) join — the OTHER storage-layout join lever
    * at 100 TB next to DPP: both fact tables written ONCE bucketed+sorted
    * on the join key (8 buckets here; thousands on a cluster), after
    * which every key-equi join between them runs with ZERO shuffle — the
    * scan itself delivers the co-partitioning, so a 100 TB×100 TB join
    * moves no bytes between executors (PlanShapeSpec asserts no
    * ShuffleExchange on the key feeding the SortMergeJoin).
    *
    * Derived-cache discipline as everywhere in this file: the bucketed
    * layout is a pure function of the source table, written once per tmp
    * lifetime. Bucketed metadata lives in the session catalog (bucket ids
    * are encoded in file NAMES, not parquet footers), which is in-memory
    * and dies with the JVM — so every JVM attaches the shared files with
    * a CREATE TABLE … CLUSTERED BY DDL; only the very first process pays
    * the write; the catalog name carries the source table's content key,
    * so a rewritten table attaches its new layout. r15 (ADVICE): the DATA
    * write goes through [[DerivedFiles]] like every other derived file —
    * Spark only bucket-writes via saveAsTable, so the build lands as a throwaway
    * EXTERNAL table whose location IS the scratch directory (dropping it
    * keeps the files), and the scratch is atomically renamed into place.
    * Bucket ids live in file names, so the rename preserves the layout
    * the attach DDL declares. The merge hint pins SMJ (orders at test SF
    * is broadcast-sized, which would bypass the layout being
    * demonstrated; at real scale neither side broadcasts and SMJ is what
    * the planner picks anyway).
    */
  private def buildBucketed(s: SparkSession, dir: String): (String, String) = {
    // one bucketed layout of `table`, attached as catalog table
    // graft_b_<table>_<key prefix>; returns the table name
    def attach(table: String, ddlCols: String, cols: String*): String = {
      val file = DerivedFiles(s, dir, s"bkt_${table}_v3", table)
      val name = s"graft_b_${table}_${file.key.take(16)}"
      if (!s.catalog.tableExists(name)) {
        val path = file.files { scratch =>
          val tmp = name + "_build_" +
            java.lang.Long.toHexString(System.nanoTime())
          Tables.t(s, dir, table).select(cols.map(col): _*)
            .write.bucketBy(8, cols.head).sortBy(cols.head)
            .option("path", scratch).saveAsTable(tmp)
          s.sql(s"DROP TABLE IF EXISTS $tmp") // external: files stay
        }
        s.sql(s"""CREATE TABLE IF NOT EXISTS $name ($ddlCols) USING PARQUET
                 |CLUSTERED BY (${cols.head}) SORTED BY (${cols.head}) INTO 8 BUCKETS
                 |LOCATION '$path'""".stripMargin)
      }
      name
    }
    (attach("lineitem", "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
        "l_orderkey", "l_quantity", "l_extendedprice"),
      attach("orders", "o_orderkey BIGINT, o_orderstatus STRING",
        "o_orderkey", "o_orderstatus"))
  }

  def scanBucketed(s: SparkSession, dir: String): DataFrame = {
    val (liName, ordName) = buildBucketed(s, dir)
    val li = s.table(liName)
    val ord = s.table(ordName)
    li.join(ord.hint("merge"), li("l_orderkey") === ord("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("l_quantity")).as("sum_qty"),
        graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Read through the custom DataSource V2 connector
    * ([[graft.sources.KvLogSource]]): documents exported once to the
    * tab-separated "graftlog" text format (derived-cache discipline,
    * 4 files → 4 input partitions), then scanned back with a pushed
    * n_chars range filter and a pruned 3-column projection — the
    * pushdown/pruning contract is asserted in SourceV2Spec; THIS query
    * proves end-to-end value correctness against the parquet original.
    */
  private def buildKvlog(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "kvlog_v3", "documents").files { p =>
      Tables.documents(s, dir)
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .as("value"))
        .repartition(4, col("value"))
        .write.text(p)
    }

  def scanDsv2(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graft.sources.KvLogSource").load(buildKvlog(s, dir))
      .filter(col("n_chars") >= 500)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_dsv2" -> (scanDsv2 _),
    "q_scan_parquet" -> (scanParquet _),
    "q_scan_evolved" -> (scanEvolved _),
    "q_scan_csv" -> (scanCsv _),
    "q_scan_jsonl" -> (scanJsonl _),
    "q_scan_orc" -> (scanOrc _),
    "q_scan_xml" -> (scanXml _),
    "q_scan_partitioned" -> (scanPartitioned _),
    "q_scan_bucketed" -> (scanBucketed _),
    "q_scan_binary" -> (scanBinary _))

  private[graft] def buildEvolved(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "evolved_v1", "documents").files { p =>
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.parquet(s"$p/a")
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.parquet(s"$p/b")
      // root completeness marker: the generations live in subdirs
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "_SUCCESS"), Array.emptyByteArray)
    }

  /** #285 Schema-evolution read: two parquet generations of the same
    * table — generation A (even docs) written BEFORE a `source` column
    * existed, generation B (odd docs) after — read together with
    * `mergeSchema`, the widened schema back-filling NULL for the old
    * files' missing column. This is the lakehouse reality every
    * long-lived dataset hits (columns appear mid-history; old files are
    * never rewritten); the aggregate proves the merged read loses
    * nothing: the oracle recomputes the same numbers from the ORIGINAL
    * un-split table, so any row lost, duplicated, or mis-nulled by the
    * merge breaks the hash.
    *
    * Scale: schema merging unions FILE FOOTERS (one tiny task per
    * file), not data; the scan itself stays pruned/pushed like any
    * parquet read. Fixture generations are written once per tmp
    * lifetime (derived-file pattern).
    */
  def scanEvolved(s: SparkSession, dir: String): DataFrame = {
    val path = buildEvolved(s, dir)
    s.read.option("mergeSchema", "true").parquet(s"$path/a", s"$path/b")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source").isNotNull, 1L).otherwise(0L)).as("n_with_source"),
        sum(col("n_chars")).as("chars_total"))
      .orderBy("lang")
  }

  private def buildBinary(s: SparkSession, dir: String): String =
    DerivedFiles(s, dir, "bin_v1", "documents").files { p =>
      new java.io.File(p).mkdirs()
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("text"))
        .repartition(col("lang"))
        .sortWithinPartitions(col("lang"), col("doc_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val nl = "\n".getBytes("UTF-8")
          var cur: String = null
          var out: java.io.OutputStream = null
          it.foreach { r =>
            val lang = r.getString(0)
            if (lang != cur) { // langs are contiguous within the sorted partition
              if (out != null) out.close()
              cur = lang
              out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(
                java.nio.file.Paths.get(p, s"$lang.bin")))
            } else out.write(nl)
            out.write(r.getString(2).getBytes("UTF-8"))
          }
          if (out != null) out.close()
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "_SUCCESS"), Array.emptyByteArray)
    }

  /** Opaque-binary ingestion via Spark's binaryFile source — the read
    * path image/audio payloads take (Multimodal.scala consumes the same
    * (path, length, content) shape). Round-trip: one .bin file per
    * language holding the newline-joined doc_id-ordered texts, read
    * back as whole-file bytes and reported as (lang, n_bytes, md5).
    * The oracle recomputes the identical md5 from the parquet originals
    * with string_agg, so equality proves the binary path delivers exact
    * bytes. The derived files are fixture scaffolding written EXECUTOR-
    * side: rows are hash-partitioned by lang and sorted (lang, doc_id)
    * within partitions, so each language's file is streamed by exactly
    * one task and no corpus-sized blob ever rides through the driver
    * (r11 — the old |langs|-row collect carried the full per-lang
    * corpus per row, the one 100×-scale caveat the r10 audit named; at
    * cluster scale the same shape targets shared storage). The graded
    * OPERATOR is the binaryFile scan.
    */
  def scanBinary(s: SparkSession, dir: String): DataFrame =
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
      .load(buildBinary(s, dir))
      .select(regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("lang"),
        col("length").as("n_bytes"), md5(col("content")).as("md5_hex"))
      .orderBy("lang")

  /** Force every scan-family derived layout (round-trip files, the
    * partitioned/bucketed layouts, the two-generation parquet, the
    * binary corpus) without running the graded reads — Bench's
    * pre-warm hook, so first consumers time the READ they demonstrate,
    * not the one-time fixture write (one-time per tmp lifetime: every
    * build is a [[DerivedFiles]] no-op once present).
    */
  private[graft] def prewarmBuilds(s: SparkSession, dir: String): Unit = {
    buildCsv(s, dir); buildJsonl(s, dir); buildOrc(s, dir); buildXml(s, dir)
    buildPartitioned(s, dir); buildKvlog(s, dir); buildEvolved(s, dir)
    buildBinary(s, dir); buildBucketed(s, dir)
  }

  /** CSV/JSONL oracles read the parquet originals: equality proves the text
    * round-trip is lossless.
    */
  val oracles: Map[String, String] = Map(
    "q_scan_dsv2" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 500
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_csv" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // recomputed from the ORIGINAL table: the merged two-generation read
    // must reconstruct exactly these numbers (odd docs carry source)
    "q_scan_evolved" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_source,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_scan_jsonl" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_orc" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_xml" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_orderkey % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_partitioned" ->
      """WITH dim AS (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS ship_year
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1997-01-01')
        |SELECT ship_year, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM (SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_extendedprice
        |      FROM lineitem) l
        |JOIN dim USING (ship_year)
        |GROUP BY ship_year ORDER BY ship_year""".stripMargin,
    "q_scan_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_scan_binary" ->
      """WITH g AS (
        |  SELECT lang, string_agg(text, chr(10) ORDER BY doc_id) AS blob
        |  FROM documents GROUP BY lang)
        |SELECT lang, CAST(strlen(blob) AS BIGINT) AS n_bytes,
        |  md5(blob) AS md5_hex
        |FROM g ORDER BY lang""".stripMargin)
}
