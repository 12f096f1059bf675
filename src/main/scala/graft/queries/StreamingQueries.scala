package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Streaming

/** Streaming-semantics queries, verified against batch SQL: a windowed
  * streaming aggregation over a static directory must equal the plain
  * GROUP BY over the same data (exactly-once, complete mode). */
object StreamingQueries {

  import DuckSql.{dHash32, dTok}

  private val runId = new AtomicLong()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hourly tumbling-window streaming aggregation == batch GROUP BY.
    "q44_stream_hourly" -> ((s, dir) => {
      val stream = Streaming.eventsStream(s, s"$dir/events.parquet")
      val agg = Streaming.hourlyAgg(stream)
      Streaming.runToCompletion(s, agg,
        s"stream_hourly_${runId.incrementAndGet()}")
    }),

    // Streaming session windows == batch gap-based sessionization: the
    // engine-merged session_window (30 min gap, per user) must produce
    // exactly the sessions a lag()-based batch pass derives. Boundary
    // semantics: a session's end is last_ts + gap EXCLUSIVE, so an event
    // arriving exactly at the boundary opens a new session (mirrored in
    // the oracle's >= comparison on integer microseconds).
    "q141_stream_sessions" -> ((s, dir) => {
      val stream = Streaming.eventsStream(s, s"$dir/events.parquet")
      val agg = Streaming.sessionCounts(stream)
      Streaming.runToCompletion(s, agg,
        s"stream_sessions_${runId.incrementAndGet()}")
    }),

    // Watermarked streaming dedup == batch DISTINCT: the ingest-time
    // dedup shape (drop repeats of a key as the feed lands, state
    // evicted once the watermark passes the key's horizon — bounded on
    // an unbounded stream, unlike a plain dropDuplicates whose state
    // grows forever). Output projects the KEY only: which physical row
    // wins inside a micro-batch is order-dependent, but the emitted key
    // set is exactly the distinct set, so the oracle compares the
    // deterministic part and nothing else.
    "q184_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val stream = Streaming.eventsStream(s, s"$dir/events.parquet")
      // Project BEFORE the stateful dedup: the operator shuffles and
      // stores whole rows, and the downstream key-only projection does
      // not reliably prune through it — without this the fat props
      // string rides the exchange and the state store for nothing
      // (at x1000 that is most of the shuffled bytes). The watermark
      // tag survives projection, so event-time eviction is unchanged.
      val deduped = stream
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      Streaming.runToCompletion(s, deduped,
        s"stream_dedup_${runId.incrementAndGet()}", outputMode = "append",
        // == batch DISTINCT only because the replay drains in ONE
        // micro-batch: split across batches, a key recurring past the
        // 2h watermark would re-emit. Fail loudly if that ever changes.
        requireSingleBatch = true)
    }),

    // Stream-stream interval join == batch range join: click->purchase
    // attribution within 30 minutes, both sides unbounded feeds. The
    // time-range condition is what bounds join state (each side holds
    // only rows newer than watermark - delay); an equality-only
    // stream-stream join would buffer both streams forever. Inner join
    // emits on match, so the pair set equals the batch join exactly.
    "q185_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      // Same pre-state projection discipline as q184: the symmetric
      // join buffers BOTH sides' rows in per-key state — only the
      // columns the join and output need should enter it.
      def typed(t: String) = Streaming
        .eventsStream(s, s"$dir/events.parquet")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts"))
      val joined = Streaming.intervalJoin(
        typed("click"), typed("purchase"), "user_id", "ts", "30 minutes")
        .select(
          col("l_event_id").as("click_id"),
          col("r_event_id").as("purchase_id"),
          col("l_user_id").as("user_id"))
      Streaming.runToCompletion(s, joined,
        s"stream_join_${runId.incrementAndGet()}", outputMode = "append",
        // == the batch range join only while the replay is one data
        // batch (state eviction across batches could drop late pairs).
        requireSingleBatch = true)
    }),

    // flatMapGroupsWithState running totals == batch GROUP BY: custom
    // keyed state (count + integer-exact micro-unit sum) updated per
    // micro-batch. A static source drains in one batch, so the single
    // update per user IS the final total — verified against the plain
    // aggregate in DuckDB down to the last micro-unit.
    "q186_stream_totals" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val stream = Streaming.eventsStream(s, s"$dir/events.parquet")
      Streaming.runToCompletion(
        s, Streaming.runningUserTotals(s, stream),
        s"stream_totals_${runId.incrementAndGet()}", outputMode = "append")
        .select(
          col("userId").as("user_id"),
          col("nEvents").as("n_events"),
          col("sumValueMicros").as("sum_value_micros"))
    }),

    // Streaming classifier scoring == the batch classifierScore shape:
    // documents score AS THEY ARRIVE through a stateless append-mode
    // projection (row-local dot product against a 1-row broadcast
    // weight map — no per-doc aggregation state, so batch splits
    // cannot change the answer). Weight table = q215's deterministic
    // md5-derived synthetic model; unigram feature space. The oracle
    // rebuilds weights, buckets and the truncating mean in SQL —
    // identical arithmetic to the batch operator's oracle, which is
    // the point: stream == batch == oracle.
    "q219_stream_classifier" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val weights = s.range(0, 1024).select(
        col("id").as("bucket"),
        (graft.functions.text.md5Hash32(concat(lit("w"), col("id")), 13)
          % 2000001L - 1000000L).as("weight_micro"))
      val stream = Streaming.docsStream(s, s"$dir/documents.parquet")
      Streaming.runToCompletion(s,
        Streaming.classifierScoreStream(stream, "doc_id", "text", weights,
          nBuckets = 1024, seed = 7, n = 1),
        s"stream_classifier_${runId.incrementAndGet()}",
        outputMode = "append")
    }),

    // Streaming perplexity-proxy scoring == batch perplexityProxy: the
    // trusted-slice bigram model lands as two static map columns + the
    // vocab scalar; each arriving document folds its own bigram array
    // (stateless, append). Same model slice as q216 (doc_id % 19).
    "q220_stream_perplexity" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val model = CoreQueries.t(s, dir, "documents")
        .filter(col("doc_id") % 19 === 0)
      val stream = Streaming.docsStream(s, s"$dir/documents.parquet")
      Streaming.runToCompletion(s,
        Streaming.perplexityProxyStream(stream, model, "doc_id", "text"),
        s"stream_perplexity_${runId.incrementAndGet()}",
        outputMode = "append")
    }))

  val oracle: Map[String, String] = Map(

    "q44_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type""".stripMargin,

    "q141_stream_sessions" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q184_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q185_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |  a.user_id AS user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q186_stream_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) * 1000000 AS BIGINT)
        |    AS sum_value_micros
        |FROM events GROUP BY user_id""".stripMargin,

    "q219_stream_classifier" ->
      raw"""WITH w AS (
           |  SELECT CAST(b AS BIGINT) AS b,
           |    ('0x' || substr(md5('13:w' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
           |      % 2000001 - 1000000 AS wm
           |  FROM (SELECT unnest(generate_series(0, 1023)) AS b)),
           |tk AS (
           |  SELECT doc_id,
           |    ${dHash32(7, "w")} % 1024 AS b
           |  FROM (SELECT doc_id,
           |          unnest($dTok) AS w
           |        FROM documents))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
           |  CAST(sum(CAST(coalesce(wm, 0) AS HUGEINT)) AS BIGINT)
           |    AS score_sum_micro,
           |  CAST(sum(CAST(coalesce(wm, 0) AS HUGEINT)) // count(*)
           |    AS BIGINT) AS score_micro
           |FROM tk LEFT JOIN w USING (b) GROUP BY doc_id""".stripMargin,

    "q220_stream_perplexity" ->
      raw"""WITH tk AS (
           |  SELECT doc_id, $dTok AS t
           |  FROM documents),
           |pairs AS (
           |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |    FROM tk WHERE len(t) >= 2)),
           |mp AS (SELECT * FROM pairs WHERE doc_id % 19 = 0),
           |c2 AS (SELECT w1, w2, count(*) AS pair_n FROM mp GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS prefix_n FROM mp GROUP BY 1),
           |v AS (SELECT greatest(count(DISTINCT w2), 1) AS vv FROM mp),
           |scored AS (
           |  SELECT p.doc_id,
           |    (coalesce(prefix_n, 0) + vv) * 1000000
           |      // (coalesce(pair_n, 0) + 1) - 1000000 AS surp
           |  FROM pairs p
           |  LEFT JOIN c2 USING (w1, w2)
           |  LEFT JOIN c1 USING (w1)
           |  CROSS JOIN v)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(CAST(surp AS HUGEINT)) AS BIGINT)
           |    AS sum_surprisal_micro,
           |  CAST(sum(CAST(surp AS HUGEINT)) // count(*) AS BIGINT)
           |    AS ppl_proxy_micro
           |FROM scored
           |GROUP BY doc_id""".stripMargin)
}
