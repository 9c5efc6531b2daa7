package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.Description
import graft.model.{AlmaSchema, CodeTables}
import graft.operators.{FillStage, FormatStage, SplitStage, YearInference}
import graft.sources.{AlmaXml, CsvStage, JsonStage, OrcStage}

import graft.queries.DuckSql._
import graft.queries.Fixtures._

/** The `alma_*` family: Alma-semantics operators over synthesized item
  * columns, with the CSV/JSON/ORC round-trips the item pipeline writes
  * and reads. */
private[graft] object AlmaQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("alma_format_guard", (s, dir) => {
      // P1–P3: registry projection + apostrophe numeric guard via the
      // real FormatStage against an item-shaped frame
      val items = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("MMS ID"),
        (col("c_custkey") * 7).cast("string").as("Barcode"),
        col("c_name").as("title"))
      FormatStage(AlmaSchema.default)(items)
        .withColumn("sort_key",
          FormatStage.unguard(col("MMS ID")).cast("long"))
        .orderBy(col("sort_key"))
    },
      oracle =
        """SELECT '''' || CAST(c_custkey AS VARCHAR) AS "MMS ID",
          | '''' || CAST(c_custkey * 7 AS VARCHAR) AS "Barcode",
          | c_name AS title,
          | '' AS "Material Type", '' AS "Item Policy", '' AS "Description",
          | '' AS "Enum A", '' AS "Enum B", '' AS "Chron I", '' AS "Chron J",
          | c_custkey AS sort_key
          |FROM customer ORDER BY sort_key""".stripMargin),

    QueryDef("alma_sort_keys", (s, dir) => {
      // R3 + W1: numeric (series, volume) keys extracted from the
      // description drive the natural sort (v2 < v10)
      val withDesc = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), synthDesc.as("desc_s"))
        .transform(par(s))
      withDesc
        .withColumn("ser_no", Description.seriesKey(col("desc_s")))
        .withColumn("vol_no", Description.volumeKey(col("desc_s")))
        .orderBy(col("ser_no"), col("vol_no"), col("desc_s"),
          col("l_orderkey"), col("l_linenumber"))
    },
      oracle = {
        val pat = """'^(?:[sS][eE][rR]\.?\s*)?(\d+)?\s*(?:[vV][oO]?[lL]?\.?\s*)(\d+)'"""
        s"""WITH d AS (SELECT l_orderkey, l_linenumber, $duckSynthDesc AS desc_s FROM lineitem)
           |SELECT l_orderkey, l_linenumber, desc_s,
           | CAST(CASE WHEN regexp_extract(desc_s, $pat, 1) = '' THEN 0
           |   ELSE CAST(regexp_extract(desc_s, $pat, 1) AS INT) END AS INT) AS ser_no,
           | CAST(CASE WHEN regexp_extract(desc_s, $pat, 2) = '' THEN 0
           |   ELSE CAST(regexp_extract(desc_s, $pat, 2) AS INT) END AS INT) AS vol_no
           |FROM d ORDER BY ser_no, vol_no, desc_s, l_orderkey, l_linenumber""".stripMargin
      }),

    QueryDef("alma_chronj_norm", (s, dir) => {
      // R2: the sequential month/season substitution chain (RE2-safe
      // variant; equivalence with the faithful chain is unit-tested)
      val raw = when(col("event_type") === "click", lit("january-february"))
        .when(col("event_type") === "view", lit("SEPT./october"))
        .when(col("event_type") === "purchase", lit("winter"))
        .when(col("event_type") === "signup", lit("spring-summer"))
        .otherwise(lit("june, nov. and december"))
      val canon = oracleMonthSubs.foldLeft(raw) { case (c, (repl, pat)) =>
        regexp_replace(c, "(?i)" + pat, repl)
      }
      t(s, dir, "events")
        .transform(par(s))
        .select(col("event_id"), raw.as("chron_raw"), canon.as("chron_canon"))
        .orderBy(col("event_id"))
    },
      oracle = {
        val raw = """CASE WHEN event_type = 'click' THEN 'january-february'
                    | WHEN event_type = 'view' THEN 'SEPT./october'
                    | WHEN event_type = 'purchase' THEN 'winter'
                    | WHEN event_type = 'signup' THEN 'spring-summer'
                    | ELSE 'june, nov. and december' END""".stripMargin.replace("\n", "")
        s"""SELECT event_id, $raw AS chron_raw, ${duckMonthChain(s"($raw)")} AS chron_canon
           |FROM events ORDER BY event_id""".stripMargin
      }),

    QueryDef("alma_year_infer", (s, dir) => {
      // W2 (windowed formulation): 2-digit years healed from the nearest
      // 4-digit neighbors within the user_id group, century arithmetic
      // branch-for-branch from the reference
      val y4 = (lit(1900) + (col("event_id") * 37) % 120)
      val chron = when(col("event_id") % 3 === 0,
        lpad((y4 % 100).cast("string"), 2, "0"))
        .otherwise(y4.cast("string"))
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), chron.as("chron_raw"))
        .withColumn("Chron I", col("chron_raw"))
        .withColumn("Notes", lit(""))
      YearInference.inferWindowed(
        base, mmsCol = "user_id",
        orderCols = _ => Seq(col("event_id")))
        .select(col("user_id"), col("event_id"), col("chron_raw"),
          col("Chron I").as("chron_fixed"), col("Notes").as("notes"))
        .orderBy(col("user_id"), col("event_id"))
    },
      oracle =
        """WITH base AS (
          | SELECT user_id, event_id,
          |  CASE WHEN event_id % 3 = 0
          |   THEN lpad(CAST((1900 + (event_id * 37) % 120) % 100 AS VARCHAR), 2, '0')
          |   ELSE CAST(1900 + (event_id * 37) % 120 AS VARCHAR) END AS chron_raw
          | FROM events),
          |probe AS (SELECT *, regexp_extract(chron_raw, '^(\d+)', 1) AS yr FROM base),
          |nb AS (SELECT *,
          |  last_value(CASE WHEN length(yr) = 4 THEN yr END IGNORE NULLS) OVER
          |   (PARTITION BY user_id ORDER BY event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
          |  first_value(CASE WHEN length(yr) = 4 THEN yr END IGNORE NULLS) OVER
          |   (PARTITION BY user_id ORDER BY event_id
          |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next
          | FROM probe),
          |fx AS (SELECT *,
          |  4 - length(yr) AS dg,
          |  CAST(prev AS INT) AS prev_i, CAST(next AS INT) AS next_i,
          |  CAST(yr AS INT) AS yr_i,
          |  CAST(substr(prev, 1, 4 - length(yr)) || yr AS INT) AS cand1,
          |  CAST(substr(next, 1, 4 - length(yr)) || yr AS INT) AS cand2,
          |  CAST(substr(prev, 1, 2) AS INT) AS cent,
          |  (CAST(prev AS INT) + CAST(next AS INT)) / 2.0 AS avg_y,
          |  CAST(right(next, 2) AS INT) AS nd,
          |  CAST(right(prev, 2) AS INT) AS pd
          | FROM nb)
          |SELECT user_id, event_id, chron_raw,
          | CASE WHEN length(yr) > 0 AND length(yr) < 4 THEN
          |  CASE
          |   WHEN prev IS NOT NULL AND next IS NOT NULL THEN
          |    CASE
          |     WHEN prev_i <= cand1 AND cand1 <= next_i THEN substr(prev, 1, dg) || chron_raw
          |     WHEN prev_i <= cand2 AND cand2 <= next_i THEN substr(next, 1, dg) || chron_raw
          |     ELSE CAST(
          |      CASE
          |       WHEN abs(avg_y - ((cent-1)*100 + yr_i)) <= abs(avg_y - (cent*100 + yr_i))
          |        AND abs(avg_y - ((cent-1)*100 + yr_i)) <= abs(avg_y - ((cent+1)*100 + yr_i))
          |        THEN cent - 1
          |       WHEN abs(avg_y - (cent*100 + yr_i)) <= abs(avg_y - ((cent+1)*100 + yr_i))
          |        THEN cent
          |       ELSE cent + 1 END AS VARCHAR) || chron_raw
          |    END
          |   WHEN prev IS NULL AND next IS NOT NULL THEN
          |    CAST(CASE WHEN yr_i > nd THEN next_i - nd - 100 + yr_i
          |     ELSE next_i - nd + yr_i END AS VARCHAR)
          |   WHEN prev IS NOT NULL AND next IS NULL THEN
          |    CAST(CASE WHEN pd > yr_i THEN prev_i - pd + 100 + yr_i
          |     ELSE prev_i - pd + yr_i END AS VARCHAR)
          |   ELSE chron_raw END
          | ELSE chron_raw END AS chron_fixed,
          | CASE WHEN length(yr) > 0 AND length(yr) < 4 AND prev IS NULL AND next IS NULL
          |  THEN 'Err: Problem interpreting Chron I' ELSE '' END AS notes
          |FROM fx ORDER BY user_id, event_id""".stripMargin),

    QueryDef("alma_code_translate", (s, dir) => {
      // P7: description→code dictionary translation as a literal-map
      // lookup (the broadcast-join degenerate case for a ≤12-row dim)
      val mat = when(col("l_linenumber") % 3 === 0, lit("Book"))
        .when(col("l_linenumber") % 3 === 1, lit("DVD"))
        .otherwise(lit("Thesis"))
      t(s, dir, "lineitem")
        .withColumn("Material Type", mat)
        .withColumn("mat_code",
          FillStage.translateCode("Material Type", CodeTables.materialType))
        .groupBy(col("mat_code"))
        .agg(count(lit(1)).as("n_items"))
        .orderBy(col("mat_code"))
    },
      oracle =
        """SELECT mat_code, count(*) AS n_items FROM (
          | SELECT CASE
          |  WHEN l_linenumber % 3 = 0 THEN 'BOOK'
          |  WHEN l_linenumber % 3 = 1 THEN 'DVD'
          |  ELSE 'THESIS' END AS mat_code
          | FROM lineitem) GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("alma_domain_validate", (s, dir) => {
      // P6: domain validation as a broadcast anti-join against the code
      // dimension — invalid values become error-noted rows instead of the
      // reference's interactive re-prompt
      val mat = when(col("l_linenumber") % 4 === 0, lit("Book"))
        .when(col("l_linenumber") % 4 === 1, lit("DVD"))
        .when(col("l_linenumber") % 4 === 2, lit("Thesis"))
        .otherwise(lit("Scroll")) // not in the Material Type table
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          mat.as("Material Type"))
        .withColumn("Notes", lit(""))
      FillStage.validateDomain(s, "Material Type")(base)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("Material Type").as("material_type"),
          col("Notes").as("notes"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      oracle =
        """SELECT l_orderkey, l_linenumber,
          | CASE CAST(l_linenumber % 4 AS INT)
          |  WHEN 0 THEN 'Book' WHEN 1 THEN 'DVD' WHEN 2 THEN 'Thesis'
          |  ELSE 'Scroll' END AS material_type,
          | CASE WHEN l_linenumber % 4 = 3
          |  THEN 'Err: Invalid value for Material Type' ELSE '' END AS notes
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    QueryDef("alma_desc_parse", (s, dir) => {
      // R1 (full fidelity, Java-regex lookbehind — no RE2 oracle; unit
      // specs + rows-only check): parse fixture-grammar descriptions
      val desc = when(col("l_linenumber") % 5 === 0,
        concat(lit("v."), (col("l_partkey") % 40).cast("string"),
          lit(" no."), (col("l_linenumber") % 12).cast("string"),
          lit(" (Oct 19"), lpad((col("l_orderkey") % 100).cast("string"), 2, "0"),
          lit(")")))
        .when(col("l_linenumber") % 5 === 1,
          concat(lit("vol "), (col("l_partkey") % 40).cast("string"),
            lit(" (20"), lpad((col("l_orderkey") % 100).cast("string"), 2, "0"),
            lit(" Spring)")))
        .when(col("l_linenumber") % 5 === 2,
          concat(lit("v."), (col("l_partkey") % 40).cast("string"),
            lit(" (Nov 98-Jan 99)")))
        .when(col("l_linenumber") % 5 === 3,
          concat(lit("ser.3 v."), (col("l_partkey") % 40).cast("string"),
            lit(" nos.1-2 (Jan-Feb 99)")))
        .otherwise(lit("unparseable description text"))
      Description.withParsedDescription(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), desc.as("Description"))
          .transform(par(s)))
        .select(col("l_orderkey"), col("l_linenumber"), col("Description"),
          col("Enum A"), col("Enum B"), col("Chron I"), col("Chron J"),
          col("Pattern"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // ties beyond Description are byte-identical rows, so this order
        // is output-deterministic
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("Description"))
    },
      // R1 oracle: the five synthesized description shapes are closed-form
      // in (l_partkey, l_orderkey, l_linenumber), so the expected parse is
      // the same CASE arithmetic — no regex engine involved. Shape-to-field
      // derivations follow Description.patterns group semantics (note the
      // trailing spaces the chronJ group captures).
      oracle =
        """WITH d AS (SELECT l_orderkey, l_linenumber,
          |  CAST(l_partkey % 40 AS VARCHAR) AS p,
          |  lpad(CAST(l_orderkey % 100 AS VARCHAR), 2, '0') AS o2,
          |  CAST(l_linenumber % 5 AS INT) AS m,
          |  CAST(l_linenumber % 12 AS VARCHAR) AS ln12
          | FROM lineitem)
          |SELECT l_orderkey, l_linenumber,
          | CASE m
          |  WHEN 0 THEN 'v.' || p || ' no.' || ln12 || ' (Oct 19' || o2 || ')'
          |  WHEN 1 THEN 'vol ' || p || ' (20' || o2 || ' Spring)'
          |  WHEN 2 THEN 'v.' || p || ' (Nov 98-Jan 99)'
          |  WHEN 3 THEN 'ser.3 v.' || p || ' nos.1-2 (Jan-Feb 99)'
          |  ELSE 'unparseable description text' END AS "Description",
          | CASE m WHEN 0 THEN 'v.' || p WHEN 1 THEN 'vol ' || p
          |  WHEN 2 THEN 'v.' || p WHEN 3 THEN 'ser.3 v.' || p
          |  ELSE '' END AS "Enum A",
          | CASE m WHEN 0 THEN 'no.' || ln12 WHEN 3 THEN 'nos.1-2'
          |  ELSE '' END AS "Enum B",
          | CASE m WHEN 0 THEN '19' || o2 WHEN 1 THEN '20' || o2
          |  WHEN 2 THEN '98-99' WHEN 3 THEN '99' ELSE '' END AS "Chron I",
          | CASE m WHEN 0 THEN 'Oct ' WHEN 1 THEN 'Spring'
          |  WHEN 2 THEN 'Nov-Jan' WHEN 3 THEN 'Jan-Feb ' ELSE '' END AS "Chron J",
          | CASE m WHEN 4 THEN 'N/A' WHEN 1 THEN 'YearBeforeMonth'
          |  WHEN 2 THEN 'SplitYears' ELSE 'StdMatch' END AS "Pattern"
          |FROM d ORDER BY l_orderkey, l_linenumber, 3""".stripMargin),

    QueryDef("alma_nomatch_count", (s, dir) => {
      // A1: the reference's "Could not parse N item descriptions" report
      // (BatchUpdate.py:753-758) as a conditional aggregate over R1 output
      val desc = when(col("l_linenumber") % 5 === 4,
        lit("unparseable description text"))
        .otherwise(
          concat(lit("v."), (col("l_partkey") % 40).cast("string"),
            lit(" no."), (col("l_linenumber") % 12).cast("string"),
            lit(" (Oct 19"),
            lpad((col("l_orderkey") % 100).cast("string"), 2, "0"),
            lit(")")))
      Description.withParsedDescription(
        t(s, dir, "lineitem")
          .select(desc.as("Description"))
          .transform(par(s)))
        .agg(
          sum(when(col("Pattern") === "N/A", 1L).otherwise(0L))
            .as("n_unmatched"),
          count(lit(1)).as("n_total"))
    },
      oracle =
        """SELECT CAST(sum(CASE WHEN l_linenumber % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
          | count(*) AS n_total
          |FROM lineitem""".stripMargin),

    QueryDef("alma_split_pipeline", (s, dir) => {
      // end-to-end split stage (rows-only; golden-tested in ScalaTest)
      val items = t(s, dir, "customer").select(
        col("c_nationkey").cast("string").as("MMS ID"),
        concat(lit("3"), col("c_custkey").cast("string")).as("Barcode"),
        col("c_name").as("title"),
        concat(lit("v."), (col("c_custkey") % 30).cast("string"),
          lit(" no."), (col("c_custkey") % 4).cast("string"),
          lit(" (Oct 19"), lpad((col("c_custkey") % 100).cast("string"), 2, "0"),
          lit(")")).as("Description"))
      SplitStage(items)
    },
      // Full split-stage oracle: the customer-derived fixture is uniform
      // (every description is the StdMatch shape with a 4-digit year, every
      // barcode valid), so fills, parse, barcode checks, year inference
      // (no-op on 4-digit years), and Chron J canonicalization are all
      // closed-form; the natural sort is (MMS ID, series=0, volume,
      // Description, Barcode) with string keys.
      oracle =
        """WITH d AS (SELECT CAST(c_nationkey AS VARCHAR) AS mms,
          |  '3' || CAST(c_custkey AS VARCHAR) AS bc, c_name,
          |  CAST(c_custkey % 30 AS VARCHAR) AS vol,
          |  CAST(c_custkey % 4 AS VARCHAR) AS no4,
          |  lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS y2,
          |  CAST(c_custkey % 30 AS INT) AS vol_i
          | FROM customer)
          |SELECT mms AS "MMS ID", bc AS "Barcode", c_name AS title,
          | 'v.' || vol || ' no.' || no4 || ' (Oct 19' || y2 || ')' AS "Description",
          | 'Bound Issue' AS "Material Type",
          | 'non-circulating' AS "Item Policy",
          | 'v.' || vol AS "Enum A", 'no.' || no4 AS "Enum B",
          | '19' || y2 AS "Chron I", 'Oct ' AS "Chron J",
          | 'StdMatch' AS "Pattern", '' AS "Notes"
          |FROM d
          |ORDER BY mms, vol_i,
          | 'v.' || vol || ' no.' || no4 || ' (Oct 19' || y2 || ')', bc""".stripMargin),

    QueryDef("json_roundtrip", (s, dir) => {
      // semi-structured ingest under the oracle: documents nest into
      // JSONL objects ({doc_id, meta:{source,lang}, n_chars}), write
      // through the partitioned sink, read back under the PINNED schema
      // (FAILFAST — a corrupt line fails loudly, never silently nulls),
      // and flatten the nested fields out. The oracle reads the same
      // fields straight off parquet, so any drift in the JSON encode,
      // the schema-pinned decode, or the nested access breaks the hash.
      import org.apache.spark.sql.types._
      val nested = t(s, dir, "documents").select(col("doc_id"),
        struct(col("source"), col("lang")).as("meta"), col("n_chars"))
      val path = JsonStage.write(nested, s"$artifactRoot/json_roundtrip")
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("meta", StructType(Seq(
          StructField("source", StringType),
          StructField("lang", StringType)))),
        StructField("n_chars", LongType)))
      JsonStage.read(s, schema, path)
        .select(col("doc_id"), col("meta.source").as("source"),
          col("meta.lang").as("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // the oracle computes the round-trip's fixed point straight from
      // parquet: matching hashes prove the CSV write → stage-prefix naming
      // → (Spark | naive) read loop is lossless for the item data model
      oracle =
        """SELECT doc_id, source, lang, n_chars
          |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("orc_roundtrip", (s, dir) => {
      // the second columnar format under the oracle: events written as
      // a hive-partitioned ORC store (partition = event_type), read
      // back through the native vectorized reader with a partition
      // filter — purchase/view directories only enter the plan
      // (pruning pinned in PlanSpec) — and hashed against an oracle
      // computed straight from the parquet source. Any drift in the
      // ORC encode, the partition recovery, or the pruned read breaks
      // the hash.
      val ev = eventsCents(s, dir)
      val path = OrcStage.write(ev, s"$artifactRoot/orc_roundtrip",
        partitionBy = Seq("event_type"))
      OrcStage.read(s, path)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events WHERE event_type IN ('purchase', 'view')
          |ORDER BY event_id""".stripMargin),

    QueryDef("csv_roundtrip", (s, dir) => {
      // S1/S2 under the oracle: write an item-shaped frame through the
      // stage-prefix CSV sink, read it back through BOTH dialects (Spark
      // CSV and the reference's naive bare-comma split,
      // BatchUpdate.py:762-816), and hash against an oracle computed
      // straight from the parquet source — any corruption in the write,
      // the prefix naming, the per-part header handling, or either read
      // path breaks the hash. Values are comma/quote-free by construction
      // (the naive dialect corrupts them by design; that hazard is
      // golden-tested separately in PipelineSpec).
      val items = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("MMS ID"),
        (col("c_custkey") * 7).cast("string").as("Barcode"),
        col("c_name").as("title"))
      val staged = CsvStage.writeStage(
        items, s"$artifactRoot/csv_roundtrip/items.csv", "f_")
      CsvStage.read(s, staged).withColumn("dialect", lit("spark"))
        .unionByName(
          CsvStage.readNaive(s, staged).withColumn("dialect", lit("naive")))
        .withColumn("ck", col("MMS ID").cast("long"))
        .orderBy(col("dialect"), col("ck"))
    },
      oracle =
        """WITH i AS (SELECT CAST(c_custkey AS VARCHAR) AS "MMS ID",
          |  CAST(c_custkey * 7 AS VARCHAR) AS "Barcode", c_name AS title,
          |  c_custkey AS ck FROM customer)
          |SELECT "MMS ID", "Barcode", title, dialect, ck
          |FROM (SELECT i.*, 'naive' AS dialect FROM i
          |      UNION ALL SELECT i.*, 'spark' AS dialect FROM i) u
          |ORDER BY dialect, ck""".stripMargin),

    QueryDef("alma_update_merge", (s, dir) => {
      // S3/S4 merge semantics under the oracle (transport excluded): a
      // deterministic item-XML template stands in for the pre-fetched GET
      // payload, and AlmaXml.merge (reference BatchUpdate.py:484-553)
      // produces the PUT body. Exercises every merge path: existing
      // element with desc-attr rewrite (physical_material_type), insert
      // with desc (policy), text-only insert (enumeration_a), text-only
      // overwrite of an existing element (chronology_i), conditional
      // insert (chronology_j on even keys), and the blank-skip
      // (enumeration_b). The oracle rebuilds the same strings in SQL, so
      // a drift in element order, attribute rendering, or code-table
      // translation breaks the hash.
      val mergeUdf = udf((bc: String, mt: String, pol: String, ea: String,
          cj: String) => {
        val template =
          s"""<item link="https://api.example.org/items/$bc"><item_data>""" +
            s"""<barcode>$bc</barcode>""" +
            s"""<physical_material_type desc="Issue">ISSUE""" +
            s"""</physical_material_type>""" +
            s"""<chronology_i>1999</chronology_i></item_data></item>"""
        val root = AlmaXml.parse(template)
        val body = AlmaXml.merge(root, AlmaXml.ItemFields(
          materialType = Some(mt), itemPolicy = Some(pol),
          enumA = Some(ea), enumB = Some(""),
          chronI = Some("2001"), chronJ = Some(cj)))
        Array(body, AlmaXml.updateUrl(root).getOrElse(""))
      })
      val mts = Seq("Book", "Issue", "DVD", "Thesis").map(lit)
      val pols = Seq("general circulation", "non-circulating",
        "WCat-ShortLoan").map(lit)
      val rows = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("barcode"),
        col("c_custkey").as("ck"),
        element_at(array(mts: _*), (col("c_custkey") % 4).cast("int") + 1)
          .as("mt"),
        element_at(array(pols: _*), (col("c_custkey") % 3).cast("int") + 1)
          .as("pol"),
        concat(lit("ea-"), (col("c_custkey") % 10).cast("string")).as("ea"),
        when(col("c_custkey") % 2 === 0,
          concat(lit("cj-"), (col("c_custkey") % 5).cast("string")))
          .otherwise(lit("")).as("cj"))
      rows
        .withColumn("m", mergeUdf(col("barcode"), col("mt"), col("pol"),
          col("ea"), col("cj")))
        .select(col("barcode"), col("ck"),
          element_at(col("m"), 1).as("put_body"),
          element_at(col("m"), 2).as("put_url"))
        .orderBy(col("ck"))
    },
      // the oracle rebuilds AlmaXml.merge's serialized output in SQL —
      // code-table translation inline (the tables ARE the spec,
      // BatchUpdate.py:40-77), element order fixed by the merge sequence
      oracle =
        """WITH r AS (SELECT CAST(c_custkey AS VARCHAR) AS barcode,
          |  c_custkey AS ck,
          |  ['Book','Issue','DVD','Thesis'][CAST(c_custkey % 4 AS INT) + 1] AS mt,
          |  ['BOOK','ISSUE','DVD','THESIS'][CAST(c_custkey % 4 AS INT) + 1] AS mtc,
          |  ['general circulation','non-circulating','WCat-ShortLoan'][CAST(c_custkey % 3 AS INT) + 1] AS pol,
          |  ['0','1','30'][CAST(c_custkey % 3 AS INT) + 1] AS polc,
          |  'ea-' || CAST(c_custkey % 10 AS VARCHAR) AS ea,
          |  CASE WHEN c_custkey % 2 = 0
          |    THEN 'cj-' || CAST(c_custkey % 5 AS VARCHAR) ELSE '' END AS cj
          | FROM customer)
          |SELECT barcode, ck,
          | '<item link="https://api.example.org/items/' || barcode
          | || '"><item_data><barcode>' || barcode
          | || '</barcode><physical_material_type desc="' || mt || '">' || mtc
          | || '</physical_material_type><chronology_i>2001</chronology_i>'
          | || '<policy desc="' || pol || '">' || polc
          | || '</policy><enumeration_a>' || ea || '</enumeration_a>'
          | || CASE WHEN cj <> '' THEN '<chronology_j>' || cj || '</chronology_j>'
          |    ELSE '' END
          | || '</item_data></item>' AS put_body,
          | 'https://api.example.org/items/' || barcode AS put_url
          |FROM r ORDER BY ck""".stripMargin)
  )
}
