package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.ScanOps
import graft.trace.{Detectors, DerivedTables}
import QueryDef._

/** Log-analytics operators from SURVEY.md §2 re-hosted on the driver's
  * generic `events` table (event_id, ts, user_id, event_type, value,
  * props-json). Covers: stats report (A1-A4), baselines (A5-A6), windowed
  * rollups (A7), bucket heatmaps + hotspot selection (A8-A10), z-score
  * bucket anomalies (A11, tools/investigation_tools/detectors.py:234-285),
  * per-event z-score gate (tools/anomaly_detector.py:38-198), sequential
  * drop detection (W1, global_scanner.py:273-323), gap sessionization
  * (W5, global_scanner.py:177-219), burst/recovery-loop detection (W6,
  * detectors.py:176-203), first-crossing timeline marks (W11,
  * timeline_builder.py:55-68), and JSON payload extraction (F9).
  *
  * Scale notes: every sequential operator partitions by a high-cardinality
  * key (user_id) — no global single-partition sorts. Global 1-row stats are
  * cross-joined (broadcast) onto bucket aggregates, never the reverse.
  * Stddev is computed from exact integer/decimal power sums rather than
  * streaming stddev_samp so results are bit-identical across engines AND
  * order-independent across partitions/retries at any scale.
  */
object EventAnalytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private def ev(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")

  private def dec(c: Column) = c.cast("decimal(18,2)")

  /** Epoch-floored N-second bucket as BIGINT (same in DuckDB via
    * CAST(FLOOR(date_part('epoch', ts)/N)*N AS BIGINT)). */
  private def bucket(c: Column, n: Int): Column =
    (floor(unix_timestamp(c) / n) * n).cast("long")

  /** Sample stddev from exact power sums: sqrt((sumsq - sum²/n)/(n-1)).
    * `sum`/`sumsq` must be doubles derived from exact decimal/integer
    * accumulation so both engines see identical inputs. */
  private def stddevFromSums(sum: Column, sumsq: Column, n: Column): Column =
    when(n > 1, sqrt((sumsq - sum * sum / n) / (n - lit(1)))).otherwise(lit(null))

  val all: Seq[QueryDef] = Seq(

    // ---- A1/A2: stats report — counts + exact means per type -------------
    sql("ev_stats_by_type",
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY n_events DESC, event_type""") { (s, dir) =>
      ev(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(dec(col("value"))).cast("double").as("total_value"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
        .orderBy(col("n_events").desc, col("event_type"))
    },

    // ---- parity-plus: HLL approximate distinct (mergeable sketch) --------
    // The 100 TB twin of ev_stats_by_type's exact COUNT(DISTINCT): a
    // native TypedImperativeAggregate with a fixed 256-byte buffer and
    // map-side partial merge (functions/HllAgg.scala) — the shuffle
    // carries groups × 256 bytes instead of every distinct key. The
    // oracle re-derives the IDENTICAL md5-seeded registers, the exact
    // HUGEINT register sum, and both estimate branches in DuckDB SQL;
    // n_exact rides along so the record shows the approximation error.
    sql("ev_hll_users",
      """WITH du AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), b AS (
        |  SELECT event_type,
        |    CAST('0x' || substr(md5(u), 1, 2) AS INTEGER) AS bucket,
        |    ltrim(substr(md5(u), 3, 14), '0') AS t
        |  FROM du
        |), regs AS (
        |  SELECT event_type, bucket, MAX(
        |    CASE WHEN t = '' THEN 57
        |         ELSE 4 * (14 - len(t)) +
        |           CASE WHEN substr(t,1,1) = '1' THEN 4
        |                WHEN substr(t,1,1) IN ('2','3') THEN 3
        |                WHEN substr(t,1,1) IN ('4','5','6','7') THEN 2
        |                ELSE 1 END
        |    END) AS rho
        |  FROM b GROUP BY 1, 2
        |), agg AS (
        |  SELECT event_type, COUNT(*) AS nb,
        |    SUM(CAST(1 AS BIGINT) << (57 - rho)) AS sp
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT event_type, CAST(256 - nb AS INTEGER) AS zeros,
        |    0.7213/(1.0 + 1.079/256.0) * 65536.0 * 144115188075855872.0
        |      / CAST(sp + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
        |             AS DOUBLE) AS raw
        |  FROM agg
        |)
        |SELECT e.event_type, x.n_exact, e.zeros AS hll_zeros,
        |  printf('%.6e',
        |    CASE WHEN e.raw <= 640.0 AND e.zeros > 0
        |         THEN 256.0 * ln(256.0 / e.zeros) ELSE e.raw END) AS hll_est
        |FROM est e
        |JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        |      FROM events WHERE user_id IS NOT NULL GROUP BY 1) x
        |  USING (event_type)
        |ORDER BY e.event_type""") { (s, dir) =>
      graft.functions.HllAgg.register(s)
      ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          graft.functions.HllAgg.hll(col("user_id").cast("string")).as("h"))
        .select(col("event_type"), col("n_exact"),
          col("h.zeros").as("hll_zeros"),
          format_string("%.6e", col("h.est")).as("hll_est"))
        .orderBy("event_type")
    },

    // ---- parity-plus: HLL sketch SET OPERATIONS (audience overlap) -------
    // The question a 100 TB fact table gets asked constantly: how many
    // distinct users do slices A and B share? Exactly = a re-scan per
    // slice COMBINATION; with mergeable register sketches it's types×256
    // bytes once, then pure column arithmetic per pair — union = register
    // max (graft_hll_regs exposes the raw array), intersection =
    // inclusion-exclusion over three estimates. ALL estimates (singles
    // included) are re-derived from the register bytes through one shared
    // column pipeline (hex-decode → exact DECIMAL register sum → one IEEE
    // divide), the same derivation the oracle replays from md5 directly;
    // exact counterparts ride along to show the approximation error.
    sql("ev_hll_overlap",
      """WITH du AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), b AS (
        |  SELECT event_type,
        |    CAST('0x' || substr(md5(u), 1, 2) AS INTEGER) AS bucket,
        |    ltrim(substr(md5(u), 3, 14), '0') AS t
        |  FROM du
        |), regs AS (
        |  SELECT event_type, bucket, MAX(
        |    CASE WHEN t = '' THEN 57
        |         ELSE 4 * (14 - len(t)) +
        |           CASE WHEN substr(t,1,1) = '1' THEN 4
        |                WHEN substr(t,1,1) IN ('2','3') THEN 3
        |                WHEN substr(t,1,1) IN ('4','5','6','7') THEN 2
        |                ELSE 1 END
        |    END) AS rho
        |  FROM b GROUP BY 1, 2
        |), est1 AS (
        |  SELECT event_type, COUNT(*) AS nb,
        |    SUM(CAST(1 AS BIGINT) << (57 - rho)) AS sp
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT event_type,
        |    CASE WHEN raw <= 640.0 AND zeros > 0
        |         THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
        |  FROM (
        |    SELECT event_type, 256 - nb AS zeros,
        |      0.7213/(1.0 + 1.079/256.0) * 65536.0 * 144115188075855872.0
        |        / CAST(sp + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
        |               AS DOUBLE) AS raw
        |    FROM est1)
        |), types AS (SELECT DISTINCT event_type FROM du),
        |pairs AS (
        |  SELECT a.event_type AS type_a, c.event_type AS type_b
        |  FROM types a JOIN types c ON a.event_type < c.event_type
        |), uregs AS (
        |  SELECT p.type_a, p.type_b, r.bucket, MAX(r.rho) AS rho
        |  FROM pairs p JOIN regs r
        |    ON r.event_type IN (p.type_a, p.type_b)
        |  GROUP BY 1, 2, 3
        |), uest1 AS (
        |  SELECT type_a, type_b, COUNT(*) AS nb,
        |    SUM(CAST(1 AS BIGINT) << (57 - rho)) AS sp
        |  FROM uregs GROUP BY 1, 2
        |), uest AS (
        |  SELECT type_a, type_b,
        |    CASE WHEN raw <= 640.0 AND zeros > 0
        |         THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
        |  FROM (
        |    SELECT type_a, type_b, 256 - nb AS zeros,
        |      0.7213/(1.0 + 1.079/256.0) * 65536.0 * 144115188075855872.0
        |        / CAST(sp + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
        |               AS DOUBLE) AS raw
        |    FROM uest1)
        |), exact1 AS (
        |  SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1
        |), exacto AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    COUNT(*) AS n
        |  FROM du x JOIN du y ON x.u = y.u AND x.event_type < y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT p.type_a, p.type_b,
        |  ea.n AS exact_a, eb.n AS exact_b,
        |  COALESCE(xo.n, 0) AS exact_overlap,
        |  printf('%.6e', sa.e) AS hll_a,
        |  printf('%.6e', sb.e) AS hll_b,
        |  printf('%.6e', u.e) AS hll_union,
        |  printf('%.6e', GREATEST(0.0, sa.e + sb.e - u.e)) AS hll_intersect
        |FROM pairs p
        |JOIN exact1 ea ON ea.event_type = p.type_a
        |JOIN exact1 eb ON eb.event_type = p.type_b
        |LEFT JOIN exacto xo ON xo.type_a = p.type_a AND xo.type_b = p.type_b
        |JOIN est sa ON sa.event_type = p.type_a
        |JOIN est sb ON sb.event_type = p.type_b
        |JOIN uest u ON u.type_a = p.type_a AND u.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""") { (s, dir) =>
      graft.functions.HllAgg.register(s)
      val numerator =
        0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 144115188075855872.0
      // hex-decoded register array from the sketch bytes
      def regArr(rc: Column): Column = {
        val h = hex(rc)
        transform(sequence(lit(0), lit(255)),
          i => conv(h.substr(i * 2 + 1, lit(2)), 16, 10).cast("int"))
      }
      // exact DECIMAL register sum (256 · 2^57 overflows BIGINT), one
      // cast, one divide — the identical IEEE sequence to HllAgg.eval
      // and the oracle
      def estOf(arr: Column): Column = {
        val zeros = size(filter(arr, r => r === 0))
        val sp = aggregate(arr, lit(0).cast("decimal(38,0)"),
          (acc, r) => acc +
            call_function("shiftleft", lit(1L), lit(57) - r)
              .cast("decimal(38,0)"))
        val raw = lit(numerator) / sp.cast("double")
        when(raw <= 640.0 && zeros > 0,
          lit(256.0) * log(lit(256.0) / zeros.cast("double")))
          .otherwise(raw)
      }
      val base = ev(s, dir).filter(col("user_id").isNotNull)
      val sk = base.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          graft.functions.HllAgg.hllRegs(col("user_id").cast("string"))
            .as("regs"))
      val a = sk.select(col("event_type").as("type_a"),
        col("n_exact").as("exact_a"), col("regs").as("ra"))
      val b = sk.select(col("event_type").as("type_b"),
        col("n_exact").as("exact_b"), col("regs").as("rb"))
      // ≤ #event_types² pair frame (bounded non-equi join — see
      // PlanGuardSpec allowlist)
      val pairs = a.join(b, col("type_a") < col("type_b"))
      val du = base.select(col("event_type"),
        col("user_id").cast("string").as("u")).distinct()
      val overlap = du.as("x")
        .join(du.as("y"), col("x.u") === col("y.u") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      pairs
        .join(overlap, Seq("type_a", "type_b"), "left")
        .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
        .withColumn("hll_a", format_string("%.6e", estOf(regArr(col("ra")))))
        .withColumn("hll_b", format_string("%.6e", estOf(regArr(col("rb")))))
        .withColumn("eu", estOf(zip_with(regArr(col("ra")), regArr(col("rb")),
          (x, y) => greatest(x, y))))
        .withColumn("ea2", estOf(regArr(col("ra"))))
        .withColumn("eb2", estOf(regArr(col("rb"))))
        .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
          col("exact_overlap"), col("hll_a"), col("hll_b"),
          format_string("%.6e", col("eu")).as("hll_union"),
          format_string("%.6e",
            greatest(lit(0.0), col("ea2") + col("eb2") - col("eu")))
            .as("hll_intersect"))
        .orderBy("type_a", "type_b")
    },

    // ---- A3/A4: time span ------------------------------------------------
    sql("ev_time_span",
      """SELECT COUNT(*) AS n_events,
        |  CAST(date_part('epoch', date_trunc('second', MIN(ts))) AS BIGINT) AS first_sec,
        |  CAST(date_part('epoch', date_trunc('second', MAX(ts))) AS BIGINT) AS last_sec,
        |  CAST(date_part('epoch', date_trunc('second', MAX(ts))) AS BIGINT)
        |    - CAST(date_part('epoch', date_trunc('second', MIN(ts))) AS BIGINT) AS span_sec
        |FROM events""") { (s, dir) =>
      ev(s, dir).agg(
        count(lit(1)).as("n_events"),
        epochSec(min(col("ts"))).as("first_sec"),
        epochSec(max(col("ts"))).as("last_sec"),
        (epochSec(max(col("ts"))) - epochSec(min(col("ts")))).as("span_sec"))
    },

    // ---- A5: per-type baselines with order-independent stddev ------------
    sql("ev_type_baselines",
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value,
        |  CASE WHEN COUNT(*) > 1 THEN SQRT(
        |    (CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |     - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |       * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |    / (COUNT(*) - 1)) END AS stddev_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      val sumv = sum(dec(col("value"))).cast("double")
      val sumsq = sum(dec(col("value")) * dec(col("value"))).cast("double")
      val n = count(lit(1))
      ev(s, dir)
        .groupBy("event_type")
        .agg(
          n.as("n"),
          (sumv / n).as("mean_value"),
          stddevFromSums(sumv, sumsq, n).as("stddev_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")
    },

    // ---- A7: 60-second tumbling rollups ----------------------------------
    sql("ev_rollup_60s",
      """SELECT CAST(FLOOR(date_part('epoch', ts)/60)*60 AS BIGINT) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
        |  MAX(value) AS max_value
        |FROM events
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2
        |ORDER BY window_start, event_type""") { (s, dir) =>
      ev(s, dir)
        .groupBy(bucket(col("ts"), 60).as("window_start"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"),
          max(col("value")).as("max_value"))
        .filter(col("n") >= 2)
        .orderBy("window_start", "event_type")
    },

    // ---- A7 at 100 TB: rollups with the bounded-state sampled p95 --------
    // The rollup shape whose exact-percentile column was the last
    // unbounded-state aggregate in a headline plan: p95 per
    // (window, type) from the deterministic bottom-k sample (k=64 —
    // per-group state 1.5 KB flat; windows hold ~100s of rows at
    // sf0.01, so the sampling regime engages on the big groups and
    // degenerates to exact on the small ones). Oracle replays the
    // identical sample rule per group.
    sql("ev_rollup_60s_approx",
      """WITH s AS (
        |  SELECT CAST(FLOOR(date_part('epoch', ts)/60)*60 AS BIGINT) AS window_start,
        |    event_type, value,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY CAST(FLOOR(date_part('epoch', ts)/60)*60 AS BIGINT), event_type
        |      ORDER BY md5(event_id::VARCHAR || ':rp'), value) AS rn
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT window_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95
        |FROM s WHERE rn <= 64
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2
        |ORDER BY window_start, event_type""") { (s, dir) =>
      val ps = graft.functions.PctSampleAgg.pctSample(
        concat(col("event_id").cast("string"), lit(":rp")),
        col("value"), Seq(0.95), 64)
      ev(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(bucket(col("ts"), 60).as("window_start"), col("event_type"))
        .agg(ps.as("ps"), count(lit(1)).as("n"))
        .filter(least(col("n"), lit(64L)) >= 2)
        .select(col("window_start"), col("event_type"),
          least(col("n"), lit(64L)).as("n_sampled"),
          round(element_at(col("ps"), 1), 6).as("p95"))
        .orderBy("window_start", "event_type")
    },

    // ---- A8/A9: 600s heatmap, high-activity buckets only -----------------
    sql("ev_bucket_heatmap",
      """SELECT CAST(FLOOR(date_part('epoch', ts)/600)*600 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_events, MAX(value) AS max_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1
        |HAVING MAX(value) >= 100
        |ORDER BY bucket""") { (s, dir) =>
      ev(s, dir)
        .groupBy(bucket(col("ts"), 600).as("bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          max(col("value")).as("max_value"),
          countDistinct(col("user_id")).as("n_users"))
        .filter(col("max_value") >= 100)
        .orderBy("bucket")
    },

    // ---- A11/J4: z-score over bucket counts (detectors.py:234-285) -------
    // Two-level agg; the 1-row global stats are broadcast-cross-joined onto
    // the bucket counts. Counts are integers → power sums exact in double.
    sql("ev_zscore_hotspots",
      """WITH bucketed AS (
        |  SELECT CAST(FLOOR(date_part('epoch', ts)/300)*300 AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY 1
        |), stats AS (
        |  SELECT CAST(SUM(cnt) AS DOUBLE)/COUNT(*) AS mean_cnt,
        |    CASE WHEN COUNT(*) > 1 THEN SQRT(
        |      (CAST(SUM(cnt*cnt) AS DOUBLE)
        |       - CAST(SUM(cnt) AS DOUBLE)*CAST(SUM(cnt) AS DOUBLE)/COUNT(*))
        |      / (COUNT(*) - 1)) END AS std_cnt
        |  FROM bucketed
        |)
        |SELECT b.bucket, b.cnt,
        |  (b.cnt - s.mean_cnt) / NULLIF(s.std_cnt, 0) AS zscore
        |FROM bucketed b, stats s
        |WHERE (b.cnt - s.mean_cnt) / NULLIF(s.std_cnt, 0) >= 1.0
        |ORDER BY zscore DESC, bucket
        |LIMIT 20""") { (s, dir) =>
      val bucketed = ev(s, dir)
        .filter(col("event_type") === "error")
        .groupBy(bucket(col("ts"), 300).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val stats = bucketed.agg(
        (sum(col("cnt")).cast("double") / count(lit(1))).as("mean_cnt"),
        stddevFromSums(
          sum(col("cnt")).cast("double"),
          sum(col("cnt") * col("cnt")).cast("double"),
          count(lit(1))).as("std_cnt"))
      bucketed.crossJoin(broadcast(stats))
        .withColumn("zscore",
          (col("cnt") - col("mean_cnt")) / nullif(col("std_cnt"), lit(0)))
        .filter(col("zscore") >= 1.0)
        .select("bucket", "cnt", "zscore")
        .orderBy(col("zscore").desc, col("bucket"))
        .limit(20)
    },

    // ---- per-event z-score gate (anomaly_detector.py:38-198) -------------
    // Baselines are a tiny per-type table → broadcast join onto the stream.
    sql("ev_anomaly_gate",
      """WITH base AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS mean_v,
        |    CASE WHEN COUNT(*) > 1 THEN SQRT(
        |      (CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |       - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*))
        |      / (COUNT(*) - 1)) END AS std_v
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  ABS(e.value - b.mean_v) / NULLIF(b.std_v, 0) AS zscore
        |FROM events e JOIN base b USING (event_type)
        |WHERE ABS(e.value - b.mean_v) / NULLIF(b.std_v, 0) > 1.5
        |ORDER BY e.event_id""") { (s, dir) =>
      val sumv = sum(dec(col("value"))).cast("double")
      val sumsq = sum(dec(col("value")) * dec(col("value"))).cast("double")
      val n = count(lit(1))
      val base = ev(s, dir).groupBy("event_type")
        .agg((sumv / n).as("mean_v"), stddevFromSums(sumv, sumsq, n).as("std_v"))
      ev(s, dir).join(broadcast(base), "event_type")
        .withColumn("zscore",
          abs(col("value") - col("mean_v")) / nullif(col("std_v"), lit(0)))
        .filter(col("zscore") > 1.5)
        .select("event_id", "event_type", "value", "zscore")
        .orderBy("event_id")
    },

    // ---- W1: sequential drop detection, partitioned by user --------------
    // flag rows collapsing below 10% of the previous value for the same
    // user — the lag carries the immediately preceding row in event order.
    sql("ev_value_drops",
      """SELECT user_id, event_id, value, prev_value FROM (
        |  SELECT user_id, event_id, value,
        |    LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
        |  FROM events)
        |WHERE prev_value IS NOT NULL AND value < prev_value * 0.1
        |ORDER BY user_id, event_id""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      ev(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"))
        .filter(col("prev_value").isNotNull &&
          col("value") < col("prev_value") * 0.1)
        .orderBy("user_id", "event_id")
    },

    // ---- W2: carried-state threshold resets (global_scanner.py:325-354) --
    // versionResets' shape on the generic events table: the last carried
    // purchase value crossing from >250 down to <50. ScanOps.prevNonNull
    // keeps the carry distributed (range partitions + boundary carry)
    // instead of one global single-partition window.
    sql("ev_value_resets",
      """WITH p AS (
        |  SELECT ts, event_id, value FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT event_id, value,
        |    LAG(value IGNORE NULLS) OVER (ORDER BY ts, event_id) AS prev_value
        |  FROM p)
        |SELECT event_id, prev_value, value FROM w
        |WHERE prev_value > 250 AND value < 50
        |ORDER BY event_id""") { (s, dir) =>
      val purch = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("ts"), col("event_id"), col("value"))
      ScanOps.prevNonNull(purch, Seq("ts", "event_id"),
        Seq("value" -> "prev_value"))
        .filter(col("prev_value") > 250 && col("value") < 50)
        .select(col("event_id"), col("prev_value"), col("value"))
        .orderBy("event_id")
    },

    // ---- W3: sequential regressions on one stream ------------------------
    // recoveryResets' shape (global_scanner.py:356-385): within the error
    // stream, a drop of more than 250 from the carried previous value.
    sql("ev_value_regressions",
      """WITH e AS (
        |  SELECT ts, event_id, value FROM events WHERE event_type = 'error'
        |), w AS (
        |  SELECT event_id, value,
        |    LAG(value IGNORE NULLS) OVER (ORDER BY ts, event_id) AS prev_value
        |  FROM e)
        |SELECT event_id, prev_value, value,
        |  prev_value - value AS drop_amount
        |FROM w WHERE prev_value IS NOT NULL AND prev_value - value > 250
        |ORDER BY event_id""") { (s, dir) =>
      val err = ev(s, dir).filter(col("event_type") === "error")
        .select(col("ts"), col("event_id"), col("value"))
      ScanOps.prevNonNull(err, Seq("ts", "event_id"),
        Seq("value" -> "prev_value"))
        .filter(col("prev_value").isNotNull &&
          col("prev_value") - col("value") > 250)
        .select(col("event_id"), col("prev_value"), col("value"),
          (col("prev_value") - col("value")).as("drop_amount"))
        .orderBy("event_id")
    },

    // ---- A12: bucketed means vs baselines + role→ALL fallback ------------
    // Detectors.baselineWindowAnomalies (detectors.py:288-352) on the
    // events table: metric = event_type, value = value, role = a canary
    // shard (user_id % 5). Baselines come from the non-canary corpus only,
    // so canary buckets exercise the role→ALL fallback while ALL buckets
    // join directly — both branches are live at sf0.01. Bucket means are
    // exact (decimal accumulation); stddev-based columns are rendered at 7
    // significant digits on both engines.
    sql("ev_baseline_window_anomalies",
      """WITH m AS (
        |  SELECT ts, CASE WHEN user_id % 5 = 0 THEN 'canary' END AS role,
        |    event_type AS metric_name, value AS v
        |  FROM events
        |), base AS (
        |  -- metricBaselines' finite-value gates, mirrored structurally
        |  -- (no current row violates them; the oracle must not diverge if
        |  -- a future generator emits NaN/±Inf/huge values). Its name
        |  -- exclusions and topN=500 cap cannot bite 5 event types.
        |  SELECT metric_name, 'ALL' AS role,
        |    CASE WHEN MAX(ABS(v)) < 1e18
        |      THEN CAST(SUM(CASE WHEN ABS(v) < 1e18 THEN CAST(v AS DECIMAL(30,10)) END) AS DOUBLE)/COUNT(v)
        |      ELSE AVG(v) END AS mean,
        |    STDDEV_SAMP(v) AS sd
        |  FROM m WHERE role IS NULL AND NOT isnan(v) AND abs(v) < 1e308
        |  GROUP BY 1 HAVING COUNT(*) >= 3
        |), buck AS (
        |  -- the detector's own filters: metricNames allowlist + NaN/±Inf
        |  SELECT CAST(FLOOR(date_part('epoch', ts)/21600)*21600 AS BIGINT) AS bucket,
        |    COALESCE(role, 'ALL') AS role, metric_name,
        |    CASE WHEN MAX(ABS(v)) < 1e18
        |      THEN CAST(SUM(CASE WHEN ABS(v) < 1e18 THEN CAST(v AS DECIMAL(30,10)) END) AS DOUBLE)/COUNT(v)
        |      ELSE AVG(v) END AS mv,
        |    COUNT(*) AS cnt
        |  FROM m WHERE ts IS NOT NULL AND NOT isnan(v)
        |    AND v NOT IN ('inf'::DOUBLE, '-inf'::DOUBLE)
        |    AND metric_name IN ('click', 'error', 'purchase', 'signup', 'view')
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
        |), j AS (
        |  SELECT b.bucket, b.role, b.metric_name, b.mv, b.cnt,
        |    COALESCE(bs.mean, ba.mean) AS bm, COALESCE(bs.sd, ba.sd) AS bsd
        |  FROM buck b
        |  LEFT JOIN base bs ON b.metric_name = bs.metric_name AND b.role = bs.role
        |  LEFT JOIN (SELECT metric_name, mean, sd FROM base WHERE role = 'ALL') ba
        |    ON b.metric_name = ba.metric_name
        |)
        |SELECT bucket, role, metric_name,
        |  printf('%.6e', mv) AS mean_val, printf('%.6e', bm) AS base_mean,
        |  printf('%.6e', bsd) AS base_std,
        |  printf('%.6e', abs((mv - bm)/bsd)) AS zscore, cnt
        |FROM j WHERE bsd IS NOT NULL AND bsd > 0 AND abs((mv - bm)/bsd) >= 1.0
        |ORDER BY bucket, role, metric_name""") { (s, dir) =>
      val m = ev(s, dir).select(col("ts"),
        when(col("user_id") % 5 === 0, lit("canary")).as("role"),
        col("event_type").as("metric_name"), col("value").as("metric_value"))
      val baselines = DerivedTables.metricBaselines(
        m.filter(col("role").isNull), minCount = 3)
      Detectors.baselineWindowAnomalies(m, baselines,
        bucketSeconds = 21600, zThreshold = 1.0, minSamples = 3,
        metricNames = Seq("click", "error", "purchase", "signup", "view"))
        .select(col("bucket"), col("role"), col("metric_name"),
          format_string("%.6e", col("mean_val")).as("mean_val"),
          format_string("%.6e", col("base_mean")).as("base_mean"),
          format_string("%.6e", col("base_std")).as("base_std"),
          format_string("%.6e", col("zscore")).as("zscore"), col("cnt"))
        .orderBy("bucket", "role", "metric_name")
    },

    // ---- ordered funnel: signup → view → click → purchase ----------------
    // Per-user step times (tᵢ = earliest step-i event STRICTLY after
    // tᵢ₋₁; null propagates) via one equi-join + one conditional-min
    // aggregation per step — no per-user event list, no window over a
    // user's whole history, so a bot key can never straggle. Times ride
    // as epoch micros (the cross-engine currency for the ns fixture).
    sql("ev_funnel_users",
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS t, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE user_id IS NOT NULL
        |), s1 AS (
        |  SELECT k, MIN(us) AS t1_us FROM e WHERE t = 'signup' GROUP BY k
        |), s2 AS (
        |  SELECT s1.k, t1_us, MIN(CASE WHEN e2.us > t1_us THEN e2.us END) AS t2_us
        |  FROM s1 LEFT JOIN e e2 ON e2.k = s1.k AND e2.t = 'view'
        |  GROUP BY s1.k, t1_us
        |), s3 AS (
        |  SELECT s2.k, t1_us, t2_us, MIN(CASE WHEN e3.us > t2_us THEN e3.us END) AS t3_us
        |  FROM s2 LEFT JOIN e e3 ON e3.k = s2.k AND e3.t = 'click'
        |  GROUP BY s2.k, t1_us, t2_us
        |), s4 AS (
        |  SELECT s3.k, t1_us, t2_us, t3_us, MIN(CASE WHEN e4.us > t3_us THEN e4.us END) AS t4_us
        |  FROM s3 LEFT JOIN e e4 ON e4.k = s3.k AND e4.t = 'purchase'
        |  GROUP BY s3.k, t1_us, t2_us, t3_us
        |)
        |SELECT k AS user_id, t1_us, t2_us, t3_us, t4_us,
        |  CASE WHEN t4_us IS NOT NULL THEN 4 WHEN t3_us IS NOT NULL THEN 3
        |       WHEN t2_us IS NOT NULL THEN 2 ELSE 1 END AS steps_completed
        |FROM s4
        |ORDER BY user_id""") { (s, dir) =>
      graft.ops.Funnel.steps(ev(s, dir),
        Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")
    },

    // ---- funnel REPORT: per-step counts + conversion vs step 1 -----------
    sql("ev_funnel_report",
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS t, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE user_id IS NOT NULL
        |), s1 AS (
        |  SELECT k, MIN(us) AS t1_us FROM e WHERE t = 'signup' GROUP BY k
        |), s2 AS (
        |  SELECT s1.k, t1_us, MIN(CASE WHEN e2.us > t1_us THEN e2.us END) AS t2_us
        |  FROM s1 LEFT JOIN e e2 ON e2.k = s1.k AND e2.t = 'view'
        |  GROUP BY s1.k, t1_us
        |), s3 AS (
        |  SELECT s2.k, t1_us, t2_us, MIN(CASE WHEN e3.us > t2_us THEN e3.us END) AS t3_us
        |  FROM s2 LEFT JOIN e e3 ON e3.k = s2.k AND e3.t = 'click'
        |  GROUP BY s2.k, t1_us, t2_us
        |), s4 AS (
        |  SELECT s3.k, t1_us, t2_us, t3_us, MIN(CASE WHEN e4.us > t3_us THEN e4.us END) AS t4_us
        |  FROM s3 LEFT JOIN e e4 ON e4.k = s3.k AND e4.t = 'purchase'
        |  GROUP BY s3.k, t1_us, t2_us, t3_us
        |), agg AS (
        |  SELECT COUNT(*) AS n1, COUNT(t2_us) AS n2, COUNT(t3_us) AS n3,
        |    COUNT(t4_us) AS n4 FROM s4
        |)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
        |    ROUND(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM agg
        |  UNION ALL SELECT 2, 'view', n2, ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM agg
        |  UNION ALL SELECT 3, 'click', n3, ROUND(CAST(n3 AS DOUBLE) / n1, 6) FROM agg
        |  UNION ALL SELECT 4, 'purchase', n4, ROUND(CAST(n4 AS DOUBLE) / n1, 6) FROM agg
        |)
        |ORDER BY step""") { (s, dir) =>
      graft.ops.Funnel.report(ev(s, dir),
        Seq("signup", "view", "click", "purchase"))
        .orderBy("step")
    },

    // ---- funnel conversion-LAG stats per transition -----------------------
    // The dashboard's "how long does each step take" column: per
    // adjacent transition, over users who completed the later step, the
    // count, sampled median/p95 (graft_pct_sample, k=1024 — the exact
    // form would buffer every converting user's lag) and exact mean of
    // tᵢ₊₁ − tᵢ in micros. Lags are integral, the sample rule replays
    // as the bottom-k-by-md5 window, the mean is an exact SUM/COUNT —
    // all bit-stable cross-engine.
    sql("ev_funnel_latency",
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS t, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE user_id IS NOT NULL
        |), s1 AS (
        |  SELECT k, MIN(us) AS t1_us FROM e WHERE t = 'signup' GROUP BY k
        |), s2 AS (
        |  SELECT s1.k, t1_us, MIN(CASE WHEN e2.us > t1_us THEN e2.us END) AS t2_us
        |  FROM s1 LEFT JOIN e e2 ON e2.k = s1.k AND e2.t = 'view'
        |  GROUP BY s1.k, t1_us
        |), s3 AS (
        |  SELECT s2.k, t1_us, t2_us, MIN(CASE WHEN e3.us > t2_us THEN e3.us END) AS t3_us
        |  FROM s2 LEFT JOIN e e3 ON e3.k = s2.k AND e3.t = 'click'
        |  GROUP BY s2.k, t1_us, t2_us
        |), s4 AS (
        |  SELECT s3.k, t1_us, t2_us, t3_us, MIN(CASE WHEN e4.us > t3_us THEN e4.us END) AS t4_us
        |  FROM s3 LEFT JOIN e e4 ON e4.k = s3.k AND e4.t = 'purchase'
        |  GROUP BY s3.k, t1_us, t2_us, t3_us
        |), lags AS (
        |  SELECT 1 AS step, 'signup' AS from_type, 'view' AS to_type,
        |    k, t2_us - t1_us AS lag_us FROM s4 WHERE t2_us IS NOT NULL
        |  UNION ALL SELECT 2, 'view', 'click', k, t3_us - t2_us
        |    FROM s4 WHERE t3_us IS NOT NULL
        |  UNION ALL SELECT 3, 'click', 'purchase', k, t4_us - t3_us
        |    FROM s4 WHERE t4_us IS NOT NULL
        |), smp AS (
        |  SELECT step, lag_us,
        |    ROW_NUMBER() OVER (PARTITION BY step
        |      ORDER BY md5(k::VARCHAR || ':fl'), CAST(lag_us AS DOUBLE)) AS rn
        |  FROM lags
        |), q AS (
        |  -- integral micros: lags sit near 1e11 us where the engines'
        |  -- interpolation differs in the last ulp (~1e-5) — rounding to
        |  -- the whole microsecond absorbs it; sub-us precision of a
        |  -- conversion lag is meaningless anyway
        |  SELECT step,
        |    CAST(ROUND(quantile_cont(CAST(lag_us AS DOUBLE), 0.5), 0) AS BIGINT) AS p50_lag_us,
        |    CAST(ROUND(quantile_cont(CAST(lag_us AS DOUBLE), 0.95), 0) AS BIGINT) AS p95_lag_us
        |  FROM smp WHERE rn <= 1024 GROUP BY step
        |), agg AS (
        |  SELECT step, from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(lag_us) AS BIGINT) AS sum_lag
        |  FROM lags GROUP BY 1, 2, 3
        |)
        |SELECT a.step, a.from_type, a.to_type, a.n_users,
        |  q.p50_lag_us, q.p95_lag_us,
        |  ROUND(CAST(a.sum_lag AS DOUBLE) / a.n_users, 6) AS mean_lag_us
        |FROM agg a JOIN q USING (step)
        |ORDER BY step""") { (s, dir) =>
      graft.ops.Funnel.stepLatency(ev(s, dir),
        Seq("signup", "view", "click", "purchase"))
        .orderBy("step")
    },

    // ---- weekly cohort retention matrix ----------------------------------
    // Users cohorted by the epoch-week (us div week — no calendar
    // week-start convention) of their first signup; each (cohort,
    // offset) cell counts members active that week. |weeks|² output
    // rows at any corpus size.
    sql("ev_retention_cohorts",
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS t,
        |    (epoch_ns(ts) // 1000) // 604800000000 AS wk
        |  FROM events WHERE user_id IS NOT NULL
        |), c AS (
        |  SELECT k, MIN(wk) AS cw FROM e WHERE t = 'signup' GROUP BY k
        |), a AS (
        |  SELECT DISTINCT k, wk FROM e
        |), cells AS (
        |  SELECT c.cw, a.wk - c.cw AS week_offset,
        |    COUNT(DISTINCT a.k) AS n_active
        |  FROM c JOIN a ON a.k = c.k WHERE a.wk >= c.cw
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT cw, COUNT(*) AS n_cohort FROM c GROUP BY 1
        |)
        |SELECT cells.cw AS cohort_week, week_offset, n_active, n_cohort,
        |  ROUND(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention
        |FROM cells JOIN s ON s.cw = cells.cw
        |ORDER BY cohort_week, week_offset""") { (s, dir) =>
      graft.ops.Funnel.retention(ev(s, dir))
        .orderBy("cohort_week", "week_offset")
    },

    // ---- W5: gap sessionization (gaps-and-islands), 1800s gap ------------
    sql("ev_sessionize",
      """WITH marked AS (
        |  SELECT user_id, event_id,
        |    CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS sec,
        |    CASE WHEN CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
        |           - LAG(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY event_id) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |), sessions AS (
        |  SELECT user_id, event_id, sec,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |  MAX(sec) - MIN(sec) AS duration_sec
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"))
        .withColumn("is_new",
          when(col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("sec")).as("start_sec"),
          max(col("sec")).as("end_sec"),
          (max(col("sec")) - min(col("sec"))).as("duration_sec"))
        .orderBy("user_id", "session_id")
    },

    // ---- table profile (per-column audit: nulls + cardinality) -----------
    // The exact one-pass profiler over every events column. Spark plans
    // the multi-distinct aggregate with ONE Expand scan (rows ×
    // |columns|+1 before partial agg — a schema-scale constant, never a
    // per-column scan); the 100 TB twins are ev_profile_kmv below (the
    // replayable KMV sketch, oracle-registered) and
    // Profile.profileApprox (HLL++, spec-bounded against this exact
    // form — HLL register layouts aren't cross-engine replayable).
    sql("ev_profile", {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
        "props")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct FROM events""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_name")
    }) { (s, dir) =>
      graft.ops.Profile.profile(ev(s, dir)).orderBy("col_name")
    },

    // ---- bounded-state distinct profile (KMV sketch, replayable) ---------
    // The 100 TB cardinality audit: per column, graft_kmv holds the 256
    // smallest distinct md5 digests (4 KB/column forever) and estimates
    // the distinct count from the 256th ((k−1)·2⁶⁰/h₆₀ — EXACT below
    // capacity). Unlike HLL the sketch rule replays in ANY engine
    // (DISTINCT md5 → ORDER BY → OFFSET k−1 → same two IEEE ops), so
    // even the ESTIMATES hash-match DuckDB bit-for-bit. Columns are the
    // string-cast-stable subset (ints/strings — double/timestamp string
    // forms differ across engines and stay on the exact ev_profile).
    sql("ev_profile_kmv", {
      val cols = Seq("event_id", "user_id", "event_type", "props")
      cols.map { c =>
        val dh = s"SELECT DISTINCT md5(CAST($c AS VARCHAR)) AS d " +
          s"FROM events WHERE $c IS NOT NULL"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  CASE WHEN (SELECT COUNT(*) FROM ($dh)) < 256
           |    THEN CAST((SELECT COUNT(*) FROM ($dh)) AS DOUBLE)
           |    ELSE CAST(255 AS DOUBLE) * POW(CAST(2 AS DOUBLE), 60)
           |      / CAST(GREATEST(CAST('0x' || substr((SELECT d FROM ($dh)
           |          ORDER BY d LIMIT 1 OFFSET 255), 1, 15) AS BIGINT), 1)
           |        AS DOUBLE) END AS n_distinct_est
           |FROM events""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY col_name")
    }) { (s, dir) =>
      import graft.functions.KmvAgg
      val cols = Seq("event_id", "user_id", "event_type", "props")
      val e = ev(s, dir)
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        KmvAgg.kmv(col(c).cast("string"), 256).as(s"__kd_$c")))
      val wide = e.agg(count(lit(1)).as("__n"), aggs: _*)
      val entries = cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__kd_$c").as("n_distinct_est")))
      wide.select(explode(array(entries: _*)).as("p")).select("p.*")
        .orderBy("col_name")
    },

    // ---- top session paths (behavioral trajectory report) ----------------
    // The ev_sessionize gap rule, then each session's first 8 event
    // types joined with '>' and counted per path — full observed
    // trajectories, the empirical complement of ev_markov_transitions'
    // first-order factorization. Per-session state is bounded at 8
    // (order, type) entries regardless of session length (longer
    // sessions count via n_truncated); the final cut is a top-50
    // TakeOrderedAndProject on a total order (n DESC, path ASC).
    sql("ev_session_paths",
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type,
        |    CASE WHEN CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
        |           - LAG(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY event_id) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id IS NOT NULL
        |), sessions AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM marked
        |), rn AS (
        |  SELECT user_id, session_id, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |      ORDER BY event_id) AS rn
        |  FROM sessions
        |), paths AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |    string_agg(CASE WHEN rn <= 8 THEN event_type END, '>'
        |      ORDER BY event_id) AS path
        |  FROM rn GROUP BY user_id, session_id
        |)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_events > 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 50""") { (s, dir) =>
      graft.ops.Funnel.sessionPaths(ev(s, dir))
    },

    // ---- W6: burst detection — 3 errors within 60s (recovery loop) -------
    sql("ev_error_bursts",
      """SELECT COUNT(*) AS n_bursts FROM (
        |  SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS sec,
        |    LAG(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT), 2)
        |      OVER (ORDER BY event_id) AS sec2
        |  FROM events WHERE event_type = 'error')
        |WHERE sec2 IS NOT NULL AND sec - sec2 <= 60""") { (s, dir) =>
      // distributed global lag over the pre-filtered error stream
      graft.ops.ScanOps.lagK(
        ev(s, dir)
          .filter(col("event_type") === "error")
          .select(col("event_id"), epochSec(col("ts")).as("sec")),
        Seq("event_id"), "sec", "sec2", 2)
        .filter(col("sec2").isNotNull && col("sec") - col("sec2") <= 60)
        .agg(count(lit(1)).as("n_bursts"))
    },

    // ---- W11: first-crossing marks per user ------------------------------
    sql("ev_first_crossing",
      """SELECT user_id, MIN(event_id) AS first_event,
        |  CAST(date_part('epoch', date_trunc('second', MIN(ts))) AS BIGINT) AS first_sec
        |FROM events WHERE value > 190
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      ev(s, dir)
        .filter(col("value") > 190)
        .groupBy("user_id")
        .agg(min(col("event_id")).as("first_event"),
          epochSec(min(col("ts"))).as("first_sec"))
        .orderBy("user_id")
    },

    // ---- F9: JSON payload extraction + aggregation -----------------------
    sql("ev_props_extract",
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""") { (s, dir) =>
      ev(s, dir)
        .groupBy((get_json_object(col("props"), "$.k").cast("int") % 10)
          .as("k_bucket"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("k_bucket")
    },

    // ---- EWMA via the native running-frame window function ---------------
    // ewma_t = 0.3·x_t + 0.7·ewma_{t−1} per user in event order; the
    // oracle folds the same recurrence with list_reduce. (EWMA is promised
    // but unimplemented in the reference — parity-plus.)
    sql("ev_ewma_by_user",
      """SELECT user_id, n_events, ROUND(ewma, 6) AS ewma FROM (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list_reduce(list(value ORDER BY event_id)
        |                  FILTER (WHERE value IS NOT NULL),
        |                (acc, x) -> 0.3*x + 0.7*acc) AS ewma
        |  FROM events GROUP BY user_id)
        |ORDER BY user_id""") { (s, dir) =>
      graft.functions.Ewma.register(s)
      val w = Window.partitionBy("user_id").orderBy("event_id")
      ev(s, dir)
        .select(col("user_id"), col("event_id"),
          graft.functions.Ewma.ewma(col("value"), 0.3).over(w).as("e"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(max_by(col("e"), col("event_id")), 6).as("ewma"))
        .orderBy("user_id")
    },

    // ---- skew pattern: salted two-phase aggregation ----------------------
    // Same result as a plain GROUP BY (the oracle), but the heavy phase
    // aggregates on (user_id, salt) so one hot user spreads over 8
    // reducers before the cheap final combine — the standard mitigation
    // when a key dominates the stream.
    sql("ev_salted_user_totals",
      """SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(sum_dec) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT user_id, event_id % 8 AS salt, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
        |  FROM events GROUP BY 1, 2)
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), (col("event_id") % 8).as("salt"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_dec"))
        .groupBy("user_id")
        .agg(sum(col("n")).as("n_events"),
          sum(col("sum_dec")).cast("double").as("total_value"))
        .orderBy("user_id")
    },

    // ---- A6/A16: exact interpolated percentiles per type -----------------
    // Spark `percentile` and DuckDB `quantile_cont` both linearly
    // interpolate over the sorted values; rounded to 6dp to absorb any
    // last-ulp interpolation differences.
    sql("ev_percentiles",
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      ev(s, dir)
        .groupBy("event_type")
        .agg(
          round(percentile(col("value"), lit(0.95)), 6).as("p95"),
          round(percentile(col("value"), lit(0.5)), 6).as("p50"))
        .orderBy("event_type")
    },

    // ---- robust anomalies: median absolute deviation (MAD) ---------------
    // The robust complement of A11's z-scores: mean/stddev move with the
    // outliers they are supposed to find; median and MAD do not (50%
    // breakdown point vs 0). Two exact-percentile passes per event_type
    // (both map-side-bounded: the per-group medians broadcast back), and
    // the FLAG compares micro-rounded integers — dev_micro > 3·mad_micro
    // — so the cut is identical in any engine (a raw double compare
    // could flip within an ulp exactly at the boundary). Exact
    // `percentile` buffers every distinct value per group — the
    // verification form; the 100 TB path is ev_mad_anomalies_approx
    // below (bounded bottom-k sampled medians, the A16 recipe).
    sql("ev_mad_anomalies",
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    ABS(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.event_id, d.event_type, d.value,
        |  ROUND(d.med, 6) AS med, ROUND(mad.mad, 6) AS mad,
        |  CAST(ROUND(d.adev * 1e6) AS BIGINT) AS dev_micro
        |FROM dev d JOIN mad USING (event_type)
        |WHERE CAST(ROUND(d.adev * 1e6) AS BIGINT)
        |  > 3 * CAST(ROUND(mad.mad * 1e6) AS BIGINT)
        |ORDER BY event_id""") { (s, dir) =>
      val med = ev(s, dir).groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val dev = ev(s, dir)
        .filter(col("value").isNotNull)
        .join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("dev_micro", round(col("adev") * 1e6, 0).cast("bigint"))
        .withColumn("mad_micro", round(col("mad") * 1e6, 0).cast("bigint"))
        .filter(col("dev_micro") > lit(3L) * col("mad_micro"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("dev_micro"))
        .orderBy("event_id")
    },

    // ---- MAD at 100 TB: bounded-state medians (graft_pct_sample) ---------
    // The exact ev_mad_anomalies above buffers every distinct value per
    // event_type TWICE (two `percentile` passes) — the state shape A16
    // already replaced with the deterministic bottom-k sample. This twin
    // swaps BOTH median passes for graft_pct_sample (k=1024: 24 KB/group
    // forever; groups under k keep all rows → identical to the exact
    // form, spec-pinned), with per-pass salts so the two samples are
    // independent. The oracle replays the exact sampling rule twice —
    // the k rows with smallest md5(salted id) per group ARE the sample
    // in both engines. The flag cut stays integer-micro, so boundary
    // rows cannot flip between engines.
    sql("ev_mad_anomalies_approx",
      """WITH s1 AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR || ':madm'), value) AS rn
        |  FROM events WHERE value IS NOT NULL
        |), med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM s1 WHERE rn <= 1024 GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    ABS(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL
        |), s2 AS (
        |  SELECT event_type, adev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR || ':madd'), adev) AS rn
        |  FROM dev
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM s2 WHERE rn <= 1024 GROUP BY event_type
        |)
        |SELECT d.event_id, d.event_type, d.value,
        |  ROUND(d.med, 6) AS med, ROUND(mad.mad, 6) AS mad,
        |  CAST(ROUND(d.adev * 1e6) AS BIGINT) AS dev_micro
        |FROM dev d JOIN mad USING (event_type)
        |WHERE CAST(ROUND(d.adev * 1e6) AS BIGINT)
        |  > 3 * CAST(ROUND(mad.mad * 1e6) AS BIGINT)
        |ORDER BY event_id""") { (s, dir) =>
      import graft.functions.PctSampleAgg
      val medSample = PctSampleAgg.pctSample(
        concat(col("event_id").cast("string"), lit(":madm")),
        col("value"), Seq(0.5), 1024)
      val med = ev(s, dir)
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(element_at(medSample, 1).as("med"))
      val dev = ev(s, dir)
        .filter(col("value").isNotNull)
        .join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val madSample = PctSampleAgg.pctSample(
        concat(col("event_id").cast("string"), lit(":madd")),
        col("adev"), Seq(0.5), 1024)
      val mad = dev.groupBy("event_type")
        .agg(element_at(madSample, 1).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("dev_micro", round(col("adev") * 1e6, 0).cast("bigint"))
        .withColumn("mad_micro", round(col("mad") * 1e6, 0).cast("bigint"))
        .filter(col("dev_micro") > lit(3L) * col("mad_micro"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("dev_micro"))
        .orderBy("event_id")
    },

    // ---- A16 at 100 TB: bounded-state percentile (deterministic
    // bottom-k sample — graft.functions.PctSampleAgg). The oracle
    // replays the EXACT sampling rule: the k rows with smallest
    // md5(salted id) per group ARE the sample in both engines, then an
    // exact quantile_cont over just those rows. k=1024 caps aggregate
    // state at 24 KB/group regardless of group size (the exact form
    // buffers EVERY distinct value); rank error obeys DKW (≈ ±4.3
    // quantile points at 98% confidence). Groups under k rows keep all
    // rows → identical to the exact form.
    sql("ev_percentiles_approx",
      """WITH s AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR || ':pct'), value) AS rn
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  CAST(COUNT(*) AS BIGINT) AS n_sampled
        |FROM s WHERE rn <= 1024
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      val ps = graft.functions.PctSampleAgg.pctSample(
        concat(col("event_id").cast("string"), lit(":pct")),
        col("value"), Seq(0.95, 0.5), 1024)
      ev(s, dir)
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(ps.as("ps"), count(lit(1)).as("n_rows"))
        .select(col("event_type"),
          round(element_at(col("ps"), 1), 6).as("p95"),
          round(element_at(col("ps"), 2), 6).as("p50"),
          least(col("n_rows"), lit(1024L)).as("n_sampled"))
        .orderBy("event_type")
    },

    // ---- §2.9 + A16: STREAMING running quantiles on the batch path -------
    // The flatMapGroupsWithState sampled-quantile operator executed over
    // the events table in one trigger: per-key state is the bottom-k
    // sample (flat 24k+4 bytes forever), and because the sample rule is
    // a pure function of row keys — not trigger boundaries — the final
    // emission equals the batch graft_pct_sample exactly, which the
    // oracle replays as the window-rule sample. StreamingSpec separately
    // pins the multi-trigger streaming execution against this batch run.
    sql("ev_streaming_quantile",
      """WITH s AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR || ':sq'), value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_all
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, CAST(MAX(n_all) AS BIGINT) AS n_seen,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95
        |FROM s WHERE rn <= 512
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = ev(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type").as("key"),
          concat(col("event_id").cast("string"), lit(":sq")).as("row_key"),
          col("value"), col("ts"))
        .as[StreamingOps.QuantilePoint]
      StreamingOps.runningQuantiles(pts, Seq(0.5, 0.95), k = 512).toDF()
        .select(col("key").as("event_type"), col("n_seen"),
          round(element_at(col("quantiles"), 1), 6).as("p50"),
          round(element_at(col("quantiles"), 2), 6).as("p95"))
        .orderBy("event_type")
    },

    // ---- streaming running distinct on the batch path --------------------
    // StreamingOps.runningDistinct executed as one batch: per event_type,
    // the flatMapGroupsWithState fold over every user row must equal the
    // batch graft_hll sketch (register max is order/duplication
    // independent), so the oracle is the SAME md5 register replay as
    // ev_hll_users plus the per-type row count the stream bills as
    // n_seen. StreamingSpec separately pins 3 micro-batches == 1 batch.
    sql("ev_streaming_distinct",
      """WITH rows_in AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), b AS (
        |  SELECT DISTINCT event_type,
        |    CAST('0x' || substr(md5(u), 1, 2) AS INTEGER) AS bucket,
        |    ltrim(substr(md5(u), 3, 14), '0') AS t
        |  FROM rows_in
        |), regs AS (
        |  SELECT event_type, bucket, MAX(
        |    CASE WHEN t = '' THEN 57
        |         ELSE 4 * (14 - len(t)) +
        |           CASE WHEN substr(t,1,1) = '1' THEN 4
        |                WHEN substr(t,1,1) IN ('2','3') THEN 3
        |                WHEN substr(t,1,1) IN ('4','5','6','7') THEN 2
        |                ELSE 1 END
        |    END) AS rho
        |  FROM b GROUP BY 1, 2
        |), agg AS (
        |  SELECT event_type, COUNT(*) AS nb,
        |    SUM(CAST(1 AS BIGINT) << (57 - rho)) AS sp
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT event_type, CAST(256 - nb AS INTEGER) AS zeros,
        |    0.7213/(1.0 + 1.079/256.0) * 65536.0 * 144115188075855872.0
        |      / CAST(sp + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
        |             AS DOUBLE) AS raw
        |  FROM agg
        |)
        |SELECT e.event_type, n.n_seen, e.zeros,
        |  printf('%.6e',
        |    CASE WHEN e.raw <= 640.0 AND e.zeros > 0
        |         THEN 256.0 * ln(256.0 / e.zeros) ELSE e.raw END) AS est
        |FROM est e
        |JOIN (SELECT event_type, COUNT(*) AS n_seen FROM rows_in
        |      GROUP BY 1) n USING (event_type)
        |ORDER BY e.event_type""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = ev(s, dir)
        .filter(col("user_id").isNotNull)
        .select(col("event_type").as("key"),
          col("user_id").cast("string").as("value"), col("ts"))
        .as[StreamingOps.DistinctPoint]
      StreamingOps.runningDistinct(pts).toDF()
        .select(col("key").as("event_type"), col("n_seen"), col("zeros"),
          format_string("%.6e", col("est")).as("est"))
        .orderBy("event_type")
    },

    // ---- streaming running funnel on the batch path ----------------------
    // StreamingOps.runningFunnel executed as one batch: the per-key
    // sorted greedy fold over the 8·n-byte step-time state must equal
    // batch Funnel.steps on any input order (see the operator's
    // scaladoc for the proof), so the oracle is the SAME conditional-min
    // cascade as ev_funnel_users. StreamingSpec separately pins
    // 3 event-time-ordered micro-batches == 1 batch, plus TTL eviction.
    sql("ev_streaming_funnel",
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS t, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE user_id IS NOT NULL
        |), s1 AS (
        |  SELECT k, MIN(us) AS t1_us FROM e WHERE t = 'signup' GROUP BY k
        |), s2 AS (
        |  SELECT s1.k, t1_us, MIN(CASE WHEN e2.us > t1_us THEN e2.us END) AS t2_us
        |  FROM s1 LEFT JOIN e e2 ON e2.k = s1.k AND e2.t = 'view'
        |  GROUP BY s1.k, t1_us
        |), s3 AS (
        |  SELECT s2.k, t1_us, t2_us, MIN(CASE WHEN e3.us > t2_us THEN e3.us END) AS t3_us
        |  FROM s2 LEFT JOIN e e3 ON e3.k = s2.k AND e3.t = 'click'
        |  GROUP BY s2.k, t1_us, t2_us
        |), s4 AS (
        |  SELECT s3.k, t1_us, t2_us, t3_us, MIN(CASE WHEN e4.us > t3_us THEN e4.us END) AS t4_us
        |  FROM s3 LEFT JOIN e e4 ON e4.k = s3.k AND e4.t = 'purchase'
        |  GROUP BY s3.k, t1_us, t2_us, t3_us
        |)
        |SELECT k AS user_id, t1_us, t2_us, t3_us, t4_us,
        |  CASE WHEN t4_us IS NOT NULL THEN 4 WHEN t3_us IS NOT NULL THEN 3
        |       WHEN t2_us IS NOT NULL THEN 2 ELSE 1 END AS steps_completed
        |FROM s4
        |ORDER BY user_id""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val stepTypes = Seq("signup", "view", "click", "purchase")
      val stepIdx = map(stepTypes.zipWithIndex.flatMap { case (t, i) =>
        Seq(lit(t), lit(i + 1)) }: _*)
      val pts = ev(s, dir)
        .filter(col("user_id").isNotNull &&
          col("event_type").isin(stepTypes: _*))
        .select(col("user_id").as("key"),
          element_at(stepIdx, col("event_type")).as("step"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("ts").cast("timestamp").as("ts"))
        .as[StreamingOps.FunnelPoint]
      StreamingOps.runningFunnel(pts, nSteps = stepTypes.size).toDF()
        .select(col("key").as("user_id"),
          get(col("t_us"), lit(0)).as("t1_us"),
          get(col("t_us"), lit(1)).as("t2_us"),
          get(col("t_us"), lit(2)).as("t3_us"),
          get(col("t_us"), lit(3)).as("t4_us"),
          col("steps_completed"))
        .orderBy("user_id")
    },

    // ---- streaming running sessionization on the batch path --------------
    // StreamingOps.runningSessions executed as one batch: the per-key
    // eid-sorted fold over the open session's 40-byte summary must equal
    // batch gaps-and-islands sessionization (the ev_sessionize
    // semantics), so the oracle is the SAME lag/running-sum derivation —
    // plus a `closed` flag (every session except the key's last is
    // closed). StreamingSpec separately pins multi-trigger == batch
    // under eid-ordered delivery, plus TTL eviction/fresh-restart.
    sql("ev_streaming_sessions",
      """WITH marked AS (
        |  SELECT user_id, event_id,
        |    CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS sec,
        |    CASE WHEN CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
        |           - LAG(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY event_id) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id IS NOT NULL
        |), sessions AS (
        |  SELECT user_id, sec,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked
        |), agg AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |    MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        |    MAX(sec) - MIN(sec) AS duration_sec
        |  FROM sessions GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_id, n_events, start_sec, end_sec, duration_sec,
        |  session_id <> MAX(session_id) OVER (PARTITION BY user_id) AS closed
        |FROM agg
        |ORDER BY user_id, session_id""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = ev(s, dir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id").as("key"), col("event_id").as("eid"),
          epochSec(col("ts")).as("sec"), col("ts").cast("timestamp").as("ts"))
        .as[StreamingOps.SessionPoint]
      StreamingOps.runningSessions(pts, gapSec = 1800L).toDF()
        .select(col("key").as("user_id"), col("session_id"), col("n_events"),
          col("start_sec"), col("end_sec"),
          (col("end_sec") - col("start_sec")).as("duration_sec"),
          col("closed"))
        .orderBy("user_id", "session_id")
    },

    // ---- streaming distinct-cardinality monitor (KMV carrier) ------------
    // runningKmv executed as one batch: per event type, the running
    // "distinct users so far" gauge off a 4+16k-byte sketch per key.
    // KMV insertion is commutative and duplicate-insensitive, so batch
    // equality holds under ANY delivery order (no ordered-delivery
    // clause, unlike the funnel/session carriers); k = 64 makes
    // the ESTIMATOR branch live at fixture scale (event types see up to
    // 150 distinct users > k), so the oracle replays the real sketch
    // arithmetic, not just the exact fallback. StreamingSpec separately
    // pins multi-trigger == batch under a shuffled permutation + TTL.
    sql("ev_streaming_kmv",
      """WITH h AS (
        |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS d
        |  FROM events WHERE user_id IS NOT NULL
        |), rk AS (
        |  SELECT event_type, d,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rk
        |  FROM h
        |), agg AS (
        |  SELECT event_type, COUNT(*) AS nd,
        |    MAX(CASE WHEN rk = 64 THEN d END) AS dk
        |  FROM rk WHERE rk <= 64 GROUP BY event_type
        |), nr AS (
        |  SELECT event_type, COUNT(*) AS n_rows FROM events
        |  WHERE user_id IS NOT NULL GROUP BY event_type
        |)
        |SELECT nr.event_type AS key, n_rows,
        |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |    ELSE CAST(63 AS DOUBLE) * POW(CAST(2 AS DOUBLE), 60)
        |      / CAST(GREATEST(CAST('0x' || substr(dk, 1, 15) AS BIGINT), 1)
        |        AS DOUBLE)
        |    END AS distinct_est
        |FROM nr JOIN agg USING (event_type)
        |ORDER BY key""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      // null keys filtered explicitly: the oracle's JOIN USING drops a
      // null event_type while Spark's groupBy would keep it (and order
      // it NULLS FIRST) — align the engines before the fixture can gain
      // one
      val pts = ev(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(col("event_type").as("key"),
          col("user_id").cast("string").as("v"),
          lit(null).cast("timestamp").as("ts"))
        .as[StreamingOps.KmvPoint]
      StreamingOps.runningKmv(pts, k = 64).toDF()
        .orderBy("key")
    },

    // ---- behavioral transition matrix (first-order Markov counts) --------
    // What follows what: per user, consecutive event pairs in event_id
    // order → a |types|² transition-count matrix with exact integral
    // row-normalized probabilities (n·10⁶ div row_total — no float ever
    // enters). The per-user LAG window is bounded by a user's history;
    // the matrix aggregation is map-side combinable. The standard input
    // to session-model sanity checks and bot detection.
    sql("ev_markov_transitions",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |  FROM events WHERE user_id IS NOT NULL
        |), t AS (
        |  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
        |)
        |SELECT prev_type, next_type, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_micro
        |FROM t
        |ORDER BY prev_type, next_type""") { (s, dir) =>
      graft.ops.Markov.transitions(ev(s, dir))
        .orderBy("prev_type", "next_type")
    },

    // ---- Markov stationary distribution (steady-state behavior mix) ------
    // Fixed-point power iteration over the transition matrix, entirely
    // in micro integers: xₖ₊₁(s') = (Σ xₖ(s)·p_micro(s,s')) div 10⁶
    // (floor AFTER the exact integer sum), with the per-step rounding
    // deficit restored by LARGEST-REMAINDER apportionment (deficit div
    // |S| to every state, +1 micro to the `deficit mod |S|` states with
    // the largest floored-away remainders, remainder DESC / state ASC)
    // so Σx stays exactly 10⁶ without biasing any fixed state;
    // no-outgoing states get a mass-conserving self-loop. Spark iterates
    // on the DRIVER over the collected |types|² matrix (bounded, the
    // k-means-centroids move); the oracle unrolls the SAME 16 iterations
    // as CTE triples — every intermediate is integral, so the engines
    // agree bit-for-bit.
    sql("ev_markov_stationary", {
      val iters = 16
      val head =
        """WITH s AS MATERIALIZED (
          |  SELECT user_id, event_type,
          |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
          |  FROM events WHERE user_id IS NOT NULL
          |), t AS MATERIALIZED (
          |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
          |  FROM s WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
          |), tp AS MATERIALIZED (
          |  SELECT prev_type, next_type,
          |    CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_micro
          |  FROM t
          |), st AS MATERIALIZED (
          |  SELECT prev_type AS state FROM tp UNION SELECT next_type FROM tp
          |), pm AS MATERIALIZED (
          |  SELECT prev_type, next_type, p_micro FROM tp
          |  UNION ALL
          |  SELECT state, state, CAST(1000000 AS BIGINT) FROM st
          |  WHERE state NOT IN (SELECT prev_type FROM tp)
          |), x0 AS MATERIALIZED (
          |  SELECT state,
          |    CAST(1000000 // (SELECT COUNT(*) FROM st) AS BIGINT)
          |    + CASE WHEN ROW_NUMBER() OVER (ORDER BY state)
          |             <= 1000000 % (SELECT COUNT(*) FROM st)
          |        THEN 1 ELSE 0 END AS x
          |  FROM st
          |)""".stripMargin
      val steps = (1 to iters).map { i =>
        s"""y$i AS MATERIALIZED (
           |  SELECT st.state,
           |    CAST(COALESCE(SUM(x.x * pm.p_micro), 0) AS BIGINT) AS num
           |  FROM st
           |  LEFT JOIN pm ON pm.next_type = st.state
           |  LEFT JOIN x${i - 1} x ON x.state = pm.prev_type
           |  GROUP BY st.state
           |), r$i AS MATERIALIZED (
           |  SELECT state, num // 1000000 AS xf,
           |    ROW_NUMBER() OVER (ORDER BY num % 1000000 DESC, state) AS rk
           |  FROM y$i
           |), x$i AS MATERIALIZED (
           |  SELECT state, CAST(xf
           |    + (1000000 - (SELECT SUM(xf) FROM r$i))
           |        // (SELECT COUNT(*) FROM st)
           |    + CASE WHEN rk <= (1000000 - (SELECT SUM(xf) FROM r$i))
           |                       % (SELECT COUNT(*) FROM st)
           |        THEN 1 ELSE 0 END AS BIGINT) AS x
           |  FROM r$i
           |)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT state, x AS pi_micro FROM x$iters ORDER BY state""".stripMargin
    }) { (s, dir) =>
      graft.ops.Markov.stationary(s, ev(s, dir)).orderBy("state")
    },

    // ---- F5: context window around an anchor timestamp -------------------
    sql("ev_context_window",
      """SELECT event_id, event_type, value
        |FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' - INTERVAL 600 SECOND
        |             AND TIMESTAMP '2024-01-02 00:00:00' + INTERVAL 600 SECOND
        |ORDER BY event_id
        |LIMIT 200""") { (s, dir) =>
      val anchor = lit("2024-01-02 00:00:00").cast("timestamp")
      ev(s, dir)
        .filter(col("ts").between(anchor - expr("INTERVAL 600 SECONDS"),
          anchor + expr("INTERVAL 600 SECONDS")))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(200)
    },

    // ---- F4: recent similar events (LIKE + recency top-k) ----------------
    sql("ev_similar_recent",
      """SELECT event_id, event_type, value
        |FROM events
        |WHERE event_type LIKE '%err%'
        |ORDER BY event_id DESC
        |LIMIT 10""") { (s, dir) =>
      ev(s, dir)
        .filter(col("event_type").like("%err%"))
        .select("event_id", "event_type", "value")
        .orderBy(col("event_id").desc)
        .limit(10)
    },

    // ---- F1-F4 composite: conjunctive filter + LIKE + top-k --------------
    sql("ev_filter_search",
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_type LIKE '%o%' AND value >= 150
        |  AND CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) % 2 = 0
        |ORDER BY value DESC, event_id
        |LIMIT 50""") { (s, dir) =>
      ev(s, dir)
        .filter(col("event_type").like("%o%") && col("value") >= 150 &&
          epochSec(col("ts")) % 2 === 0)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy(col("value").desc, col("event_id"))
        .limit(50)
    },

    // ---- as-of join: per error, the user's latest signup at-or-before ----
    // Spark lacks the operator; graft.ops.AsOfJoin runs it as one keyed
    // window over the tagged union (no per-row probing, no broadcast).
    // DuckDB's native ASOF LEFT JOIN is the oracle.
    sql("ev_asof_last_signup",
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type = 'error'),
        |s AS (SELECT user_id,
        |    CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS sec,
        |    CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.user_id, e.event_id, e.sec,
        |  s.sec AS signup_sec, s.signup_value
        |FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.sec >= s.sec
        |ORDER BY e.event_id""") { (s, dir) =>
      val errors = ev(s, dir).filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"))
      val signups = ev(s, dir).filter(col("event_type") === "signup")
        .groupBy(col("user_id"), epochSec(col("ts")).as("sec"))
        .agg(max(dec(col("value"))).cast("double").as("signup_value"))
      graft.ops.AsOfJoin.backward(errors, signups, Seq("user_id"), "sec",
        Seq("signup_value"), prefix = "signup_")
        .select(col("user_id"), col("event_id"), col("sec"),
          col("signup_sec"), col("signup_signup_value").as("signup_value"))
        .orderBy("event_id")
    },

    // ---- §2.9 streaming twin, batch-executed with a value oracle ---------
    // The EXACT flatMapGroupsWithState operator behind
    // StreamingOps.runningAnomalyGate (keyed Welford state, score-then-
    // update) run through Spark's batch execution path — the same
    // function, state transitions and emissions a readStream would drive,
    // minus the unbounded source. The oracle re-derives the sequential
    // gate in DuckDB as strictly-preceding window aggregates over the
    // same (ts_us, value) fold order. This is the driver-visible
    // evidence for the streaming surface; StreamingSpec separately
    // asserts the true-streaming execution equals this batch execution.
    // The gate decision is EXACT: both engines derive z from the same
    // integer power sums of the 2-dp values at cent scale (strictly-
    // preceding HUGEINT sums here, BigInt running state in the
    // operator), so the only float ops — one cast-divide-sqrt from
    // identical exact integers — are bit-identical, and threshold
    // membership can never drift with group size (the float-Welford
    // form lost ~20 boundary rows at 100×-scale groups).
    sql("ev_streaming_gate",
      """WITH p AS (
        |  SELECT event_type AS metric, epoch_ns(ts) // 1000 AS ts_us, value AS v,
        |    CAST(ROUND(value * 100) AS HUGEINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT metric, ts_us, v, c,
        |    COUNT(*) OVER win AS n_prev,
        |    SUM(c) OVER win AS s_prev,
        |    SUM(c * c) OVER win AS q_prev
        |  FROM p
        |  WINDOW win AS (PARTITION BY metric ORDER BY ts_us, v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT metric, ts_us, v,
        |    SQRT(CAST((c * n_prev - s_prev) * (c * n_prev - s_prev) * (n_prev - 1) AS DOUBLE)
        |       / CAST((q_prev * n_prev - s_prev * s_prev) * n_prev AS DOUBLE)) AS zval
        |  FROM w
        |  WHERE n_prev >= 3 AND (q_prev * n_prev - s_prev * s_prev) > 0
        |)
        |SELECT metric, ts_us, v AS value, ROUND(zval, 6) AS zscore
        |FROM z
        |WHERE zval > 3.0
        |ORDER BY metric, ts_us, value""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = ev(s, dir)
        .select(col("event_type").as("metric"), col("ts"), col("value"))
        .as[StreamingOps.MetricPoint]
      StreamingOps.runningAnomalyGate(pts, zThreshold = 3.0,
        minSamples = 3, sortWithinTrigger = true).toDF()
        .select(col("metric"), unix_micros(col("ts")).as("ts_us"),
          col("value"), round(col("zscore"), 6).as("zscore"))
        .orderBy("metric", "ts_us", "value")
    }
  )
}
