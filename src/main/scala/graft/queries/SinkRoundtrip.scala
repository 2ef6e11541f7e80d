package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Store
import QueryDef._

/** Write→read-back oracles for the three file sinks (SURVEY.md §2.1
  * S7/S9/S10 — cli_wrapper/main.py's store, export and chunk commands).
  *
  * CliSpec asserts the writes happen; these queries close the remaining
  * evidence gap by making the written VALUES driver-observable: each one
  * runs the real `graft.Cli` command chain against the reference's XML
  * fixture, re-reads what the sink wrote, and returns a canonical
  * projection the DuckDB oracle re-derives independently from the raw
  * fixture lines. A corrupted write (lost rows, mangled encoding, wrong
  * schema) now hash-fails instead of passing a file-exists check.
  *
  * The store lands under java.io.tmpdir, keyed by session identity so
  * concurrent suites never collide; every execution rewrites it
  * (mode=overwrite), so the queries stay idempotent and bench passes pay
  * the full write+read cost honestly.
  *
  * `doc_text_splitter` closes the chunk sink's remaining gap: it runs
  * the chunker's 500/100 split over the `documents` table and checks the
  * pieces against a DuckDB replay of the algorithm.
  */
object SinkRoundtrip {

  import TraceQueries.{XmlFixture, duckLines, duckMandatory}

  private def rtDir(s: SparkSession, leaf: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_rt_${System.identityHashCode(s)}/$leaf"

  /** Run the CLI against an isolated store; a nonzero exit is a test
    * failure, surface it loudly. */
  private def cli(s: SparkSession, args: String*): Unit = {
    val code = graft.Cli.run(args.toArray, Some(s))
    require(code == 0, s"Cli ${args.mkString(" ")} exited $code")
  }

  val all: Seq[QueryDef] = Seq(

    // ---- S7 table-store sink: load → store/events → read back -----------
    sql("trace_store_roundtrip",
      s"""WITH raw AS (
        |  SELECT line, row_number() OVER () AS rn FROM ${duckLines(XmlFixture)}
        |  WHERE line LIKE '%<Event %'
        |), ev AS (
        |  SELECT row_number() OVER (ORDER BY COALESCE(TRY_CAST(regexp_extract(line, ' Time="([^"]*)"', 1) AS DOUBLE), 1e308), rn) AS event_id,
        |    strptime(regexp_extract(line, 'DateTime="([^"]*)"', 1), '%Y-%m-%dT%H:%M:%SZ') AS ts,
        |    TRY_CAST(regexp_extract(line, 'Severity="([^"]*)"', 1) AS INTEGER) AS severity,
        |    regexp_extract(line, ' Type="([^"]*)"', 1) AS event,
        |    nullif(regexp_extract(line, ' Roles="([^"]*)"', 1), '') AS role,
        |    CAST(len(list_distinct(list_filter(
        |      regexp_extract_all(line, '([\\w.]+)="([^"]*)"', 1),
        |      k -> k NOT IN $duckMandatory))) AS INTEGER) AS n_fields
        |  FROM raw
        |)
        |SELECT event_id, CAST(date_part('epoch', ts) AS BIGINT) AS sec,
        |  severity, event, role, n_fields
        |FROM ev ORDER BY event_id""") { (s, _) =>
      val db = rtDir(s, "store")
      cli(s, "--db", db, "load", XmlFixture, "--stable-ids")
      s.read.parquet(s"$db/events")
        .select(col("event_id"), epochSec(col("ts")).as("sec"),
          col("severity"), col("event"), col("role"),
          size(col("fields")).as("n_fields"))
        .orderBy("event_id")
    },

    // ---- S9 export sink: SQL → 2-partition CSV → read back --------------
    // Exercises --format csv AND --partitions (the repartition branch);
    // the CSV text itself is the thing under test, so the read-back goes
    // through the csv parser with an explicit schema.
    sql("trace_export_roundtrip",
      s"""SELECT severity, n FROM (
        |  SELECT TRY_CAST(regexp_extract(line, 'Severity="([^"]*)"', 1) AS INTEGER) AS severity,
        |    COUNT(*) AS n
        |  FROM ${duckLines(XmlFixture)} WHERE line LIKE '%<Event %'
        |  GROUP BY 1)
        |WHERE severity IS NOT NULL ORDER BY severity""") { (s, _) =>
      val db = rtDir(s, "export/db")
      val out = rtDir(s, "export/severity_csv")
      cli(s, "--db", db, "load", XmlFixture, "--stable-ids")
      cli(s, "--db", db, "export",
        "SELECT severity, COUNT(*) AS n FROM events WHERE severity IS NOT NULL GROUP BY severity",
        out, "--format", "csv", "--partitions", "2")
      s.read.option("header", "true").schema("severity INT, n BIGINT")
        .csv(out).orderBy("severity")
    },

    // ---- Store layout: date-partitioned write → pruned read-back --------
    // The reference keeps DuckDB indexes on ts (tools/database.py:22-24);
    // the Spark-scale equivalent is the Store's event_date partitioning,
    // where a date predicate prunes whole directories before any IO. This
    // query routes the generic events table through Store.writeEvents and
    // back with a 3-day predicate — and REFUSES to return unless the
    // predicate actually reached PartitionFilters, so the pruning is
    // re-proven on every driver run, not just in StoreSpec. The oracle
    // re-derives the same 3-day aggregate from the flat parquet.
    sql("ev_store_pruned",
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
        |  COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val store = rtDir(s, "store_pruned")
      Store.writeEvents(graft.Tables(s, dir, "events"), store)
      val pruned = Store.readEvents(s, store)
        .filter(col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy(col("event_date").cast("string").as("event_date"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .orderBy("event_date", "event_type")
      require(Store.prunes(pruned),
        "date predicate must reach PartitionFilters in the store scan")
      pruned
    },

    // ---- S10 chunk sink: chunk command → store/chunks → read back -------
    // Same canonical projection (and oracle) as trace_chunks, but the
    // values travel through the chunk command's parquet sink first —
    // chunk_content/chunk_pieces are written too (CliSpec asserts them;
    // the 500/100 split algorithm itself is oracled by doc_text_splitter,
    // below).
    sql("trace_chunk_sink_roundtrip", TraceQueries.duckChunksSql) { (s, _) =>
      val db = rtDir(s, "chunk")
      cli(s, "--db", db, "load", XmlFixture, "--stable-ids")
      cli(s, "--db", db, "chunk")
      s.read.parquet(s"$db/chunks")
        .select("chunk_id", "start_event_id", "end_event_id", "n_events",
          "chunk_type")
        .orderBy("chunk_id")
    },

    // ---- §2.8 recursive 500/100 text splitter, full oracle ---------------
    // Chunker.splitText (chunker.py:8-16, langchain's recursive splitter):
    // on this corpus (single-space word sequences, words ≤ 8 chars, no
    // newlines) the algorithm reduces provably to a greedy word merge
    // with a ≤100-char carried overlap — which the oracle replays as a
    // DuckDB recursive CTE over word-prefix lengths. cum[j] is the joined
    // length of words 1..j plus one separator (so join(s..j) =
    // cum[j]-cum[s-1]-1); a chunk [s,e] takes the longest fitting prefix,
    // the next start trims the head until the carried tail is ≤ overlap.
    sql("doc_text_splitter", {
      def cum0(sv: String) =
        s"(CASE WHEN $sv = 1 THEN 0 ELSE cum[$sv - 1] END)"
      def eOf(sv: String) =
        s"($sv - 1 + len(list_filter(list_slice(cum, $sv, nw), c -> c - ${cum0(sv)} <= 501)))"
      val s2 = "(s + len(list_filter(list_slice(cum, s, e - 1), c -> c < cum[e] - 101)) + 1)"
      s"""WITH RECURSIVE w AS (
        |  SELECT doc_id, ws, len(ws) AS nw,
        |    list_transform(range(1, len(ws) + 1),
        |      j -> strlen(array_to_string(ws[1:j], ' ')) + 1) AS cum
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE text IS NOT NULL AND text <> '')
        |), chunks AS (
        |  SELECT doc_id, ws, nw, cum, 0 AS piece_index, 1 AS s,
        |    ${eOf("1")} AS e
        |  FROM w
        |  UNION ALL
        |  SELECT doc_id, ws, nw, cum, piece_index + 1, $s2 AS s,
        |    ${eOf(s2)} AS e
        |  FROM chunks WHERE e < nw
        |)
        |SELECT doc_id, piece_index,
        |  array_to_string(list_slice(ws, s, e), ' ') AS content,
        |  row_number() OVER (ORDER BY doc_id, piece_index) - 1 AS chunk_index
        |FROM chunks
        |ORDER BY doc_id, piece_index"""
    }) { (s, dir) =>
      graft.trace.Chunker.splitChunks(graft.Tables(s, dir, "documents").select(
          col("doc_id").as("chunk_id"), lit(0L).as("start_event_id"),
          lit(0L).as("end_event_id"), lit("doc").as("chunk_type"),
          col("text").as("chunk_content")))
        .select(col("chunk_id").as("doc_id"), col("piece_index"),
          col("content"), col("chunk_index"))
        .orderBy("doc_id", "piece_index")
    }
  )
}
