package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Ids, Incremental, JsonFlatten, PortableHash, ZOrder}
import graft.plans.{AsofJoinExec, RangeJoinExec}

/** JSON flatten coverage (F7-F10), verifiable hash partitioning (W1/F4 scale
  * variant), F1 hash-id consistency, and the incremental cache-merge pattern. */
object MiscQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F7+F8: parse JSON string column, flatten struct field (tabularize.py:44-71).
    // events.ts is a nanosecond timestamp Spark's vectorized reader rejects —
    // an explicit read schema prunes it at the source (and skips schema
    // inference, the right default at scale anyway).
    "q_json_struct" -> ((s, dir) => {
      val events = s.read.schema("event_id LONG, props STRING")
        .parquet(s"$dir/events.parquet")
      JsonFlatten.flattenStruct(
        events, "props",
        StructType(Seq(StructField("k", LongType))), Seq("k"))
        .select(col("event_id"), col("k"))
    }),

    // F9: JSON array explode; null/missing array -> zero rows (tabularize.py:73-93)
    "q_json_array" -> ((s, dir) => {
      val withArr = t(s, dir, "documents")
        .withColumn("arr",
          concat(lit("[\""), regexp_replace(col("text"), " ", "\",\""), lit("\"]")))
      JsonFlatten.explodeJsonArray(withArr, "arr", "word")
        .select(col("doc_id"), col("word"))
    }),

    // F10: JSON map explode to (key, value) rows, null values dropped (tabularize.py:95-115)
    "q_json_map" -> ((s, dir) => {
      val withMap = t(s, dir, "documents")
        .withColumn("m", concat(lit("{\"lang\":\""), col("lang"),
          lit("\",\"source\":\""), col("source"), lit("\"}")))
      JsonFlatten.explodeJsonMap(withMap, "m", "prop", "value")
        .select(col("doc_id"), col("prop"), col("value"))
    }),

    // W1 scale variant: hash-mod partition key — no global sort, fully parallel,
    // verified value-for-value via the portable MD5 hash
    "q_partition_hash" -> ((s, dir) => {
      graft.engine.Partitioned.partitionKeyByHash(
        t(s, dir, "orders").select("o_orderkey"), col("o_orderkey"), 16,
        hashFn = _ => PortableHash.md5Bits16("cast(o_orderkey AS string)"))
        .select(col("o_orderkey"), col("partition").cast("long").as("partition"))
    }),

    // F1: hash-id consistency — each engine joins on its OWN hash (xxhash64 vs
    // DuckDB hash()); equal natural-key results prove the id mechanism without
    // comparing hash bit patterns (SURVEY §7.4)
    "q_hash_ids" -> ((s, dir) => {
      val nodes = t(s, dir, "orders")
        .select(Ids.hash64(col("o_orderpriority")).as("node_id"),
          col("o_orderpriority").as("license")).distinct()
      val refs = t(s, dir, "orders")
        .select(Ids.hash64(col("o_orderpriority")).as("ref_id"))
      refs.join(nodes, refs("ref_id") === nodes("node_id"))
        .groupBy("license").agg(count(lit(1)).as("cnt"))
    }),

    // F11: text normalization chain (reference dedupe_example.py:30-47)
    "q_text_norm" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        graft.ops.TextNorm.normalize(concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")))
          .as("norm"))
    }),

    // O5: id-set intersection (reference canon.py:127-140 old/new split)
    "q_intersect" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_quantity") > 45).select(col("l_partkey").as("id")).distinct()
        .intersect(t(s, dir, "part").filter(col("p_size") > 30).select(col("p_partkey").as("id")))
    }),

    // F12: JSON object cardinality (reference num_releases, crawl.py:30-34)
    "q_json_cardinality" -> ((s, dir) => {
      s.read.schema("event_id LONG, props STRING").parquet(s"$dir/events.parquet")
        .select(col("event_id"), JsonFlatten.jsonCardinality(col("props")).cast("long").as("n_props"))
    }),

    // F6: sentence-prefix feature exprs (reference meta.py:284-288) over a
    // sentence-ized text column
    "q_sentence_features" -> ((s, dir) => {
      import graft.er.Features
      t(s, dir, "documents")
        .withColumn("s", regexp_replace(col("text"), " table", ". table"))
        .select(col("doc_id"),
          Features.titlePrefix(col("s")).as("title"),
          Features.firstSentences(col("s"), 2).as("title_n_first_line"))
    }),

    // streaming: watermarked tumbling-window agg over events consumed as a
    // file stream (AvailableNow), verified against the batch oracle
    "q_stream_window" -> ((s, dir) =>
      graft.streaming.Streams.windowedEventCounts(s, s"$dir/events.parquet")),

    // streaming exact dedup: per-key state-store dedup over the same event
    // stream — one row per distinct (user_id, event_type), batch-DISTINCT
    // oracle (output is the key set, independent of which duplicate won)
    "q_stream_dedup" -> ((s, dir) =>
      graft.streaming.Streams.streamDedupKeys(s, s"$dir/events.parquet",
        Seq("user_id", "event_type"))),

    // as-of join: each click picks up the value of the user's latest view
    // at-or-before it (the native sort-merge AsofJoinExec, planned through
    // GraftExtensions). Timestamps are compared at microsecond granularity —
    // the cross-engine-exact resolution (DuckDB's parquet reader truncates
    // the nano column to µs), same rule as the sessionize oracle.
    "q_asof_join" -> ((s, dir) => {
      val events = s.read.schema(graft.streaming.Streams.eventsSchema)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts_us", col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val views = events.filter(col("event_type") === "view")
        .groupBy("user_id", "ts_us").agg(max("value").as("view_value"))
      AsofJoinExec.asofLeft(clicks, views, keys = Seq("user_id"), tsCol = "ts_us",
        valCols = Seq("view_value"))
    }),

    // forward as-of join: each click picks up the value of the user's
    // EARLIEST view at-or-after it (next-event enrichment; the same merge
    // with time scanned descending)
    "q_asof_forward" -> ((s, dir) => {
      val events = s.read.schema(graft.streaming.Streams.eventsSchema)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts_us", col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val views = events.filter(col("event_type") === "view")
        .groupBy("user_id", "ts_us").agg(max("value").as("view_value"))
      AsofJoinExec.asofLeft(clicks, views, keys = Seq("user_id"), tsCol = "ts_us",
        valCols = Seq("view_value"), forward = true)
    }),

    // salted skew join: hot-key-proof equi-join (left salted, right
    // replicated saltx) — row-identical to the plain join the oracle runs
    "q_skew_join" -> ((s, dir) => {
      graft.ops.SkewJoin.salted(
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
        t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_name")),
        keys = Seq("l_partkey"), saltBy = col("l_orderkey"), salt = 8)
        .select("l_orderkey", "l_partkey", "l_quantity", "p_name")
    }),

    // range join: clicks attributed to the 60s window after each view,
    // per user (the native active-set sort-merge RangeJoinExec, not a
    // nested-loop range condition)
    "q_range_join" -> ((s, dir) => {
      val events = s.read.schema(graft.streaming.Streams.eventsSchema)
        .parquet(s"$dir/events.parquet")
        .withColumn("ts_us", col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      val windows = events.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts_us").as("w_start"), (col("ts_us") + 60L * 1000000L).as("w_end"))
      RangeJoinExec.pointInRange(clicks, windows, keys = Seq("user_id"),
        ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
        valCols = Seq("view_id"))
        .select("click_id", "view_id", "user_id", "ts_us")
    }),

    // Z-order (Morton) interleave key — the clustered-write sort key as a
    // first-class expression, checkable bit-for-bit: both engines interleave
    // the low 10 bits of (l_partkey mod 1024, l_suppkey mod 1024)
    "q_zorder_key" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        ZOrder.zkey(Seq(col("l_partkey") % 1024, col("l_suppkey") % 1024), bits = 10)
          .as("zkey"))
    }),

    // STREAM-STREAM interval join: the range-join semantics with BOTH sides
    // consumed as watermarked streams — click matched to same-user views
    // whose 60s window contains it, join state bounded by watermark+interval
    "q_stream_interval_join" -> ((s, dir) =>
      graft.streaming.Streams.streamIntervalJoin(s, s"$dir/events.parquet",
        windowSec = 60)),

    // native session_window streaming aggregation (the managed-state
    // sessionizer, vs q_stream_sessions' arbitrary-state one): per-user
    // sessions with start + event count, inclusive-end merge semantics
    "q_stream_session_window" -> ((s, dir) =>
      graft.streaming.Streams.sessionWindowCounts(s, s"$dir/events.parquet",
        gapMinutes = 30)),

    // STREAMING sessionization: flatMapGroupsWithState over the event feed —
    // per-user open sessions in the state store, a session emitted only when
    // a later event closes it; the oracle is the batch window formulation
    // minus each user's final (still-open) session
    "q_stream_sessions" -> ((s, dir) =>
      graft.streaming.Streams.streamSessions(s, s"$dir/events.parquet",
        gapMinutes = 30)),

    // gap-based sessionization (30-min gap) — the canonical stateful
    // log-pipeline operator, batch formulation
    "q_sessionize" -> ((s, dir) => {
      val events = s.read.schema(graft.streaming.Streams.eventsSchema)
        .parquet(s"$dir/events.parquet")
        .withColumn("event_ts", graft.streaming.Streams.eventTime)
      graft.streaming.Sessionize.batch(events, gapMinutes = 30)
    }),

    // as-of + range join COMPOSED inside an EtlGroup DAG (the reference-
    // shaped workload test): extraction -> {as-of enrichment DfNode,
    // range attribution DfNode} -> SqlNode join of the two outputs, all
    // wired by catalog ids and executed concurrently. Each click carries the
    // value of the user's latest at-or-before view AND the count of 60s
    // view-attribution windows containing it.
    "q_asof_dag" -> ((s, dir) => {
      import graft.engine.{Catalog, DfNode, EtlGroup, SqlNode}
      val work = java.nio.file.Files.createTempDirectory("graft_asof_dag")
      graft.TempCleanup.deleteOnExit(work)
      val cat = new Catalog(s, work.toString)
      // source-style node: events need the explicit read schema (ns
      // timestamps), so extraction reads the parquet itself rather than
      // linking the raw table
      val extract = new DfNode("extract_events", Seq.empty, Seq("dag_clicks", "dag_views"),
        fn = { _ =>
          val events = s.read.schema(graft.streaming.Streams.eventsSchema)
            .parquet(s"$dir/events.parquet")
            .withColumn("ts_us", col("ts"))
          Seq(
            events.filter(col("event_type") === "click")
              .select("event_id", "user_id", "ts_us"),
            events.filter(col("event_type") === "view")
              .groupBy("user_id", "ts_us").agg(max("value").as("view_value")))
        })
      val enrich = new DfNode("asof_enrich", Seq("dag_clicks", "dag_views"),
        Seq("dag_clicks_enriched"),
        fn = { case Seq(clicks, views) =>
          Seq(AsofJoinExec.asofLeft(clicks, views, keys = Seq("user_id"),
            tsCol = "ts_us", valCols = Seq("view_value")))
        })
      val attrib = new DfNode("range_attribution", Seq("dag_clicks", "dag_views"),
        Seq("dag_click_attribution"),
        fn = { case Seq(clicks, views) =>
          val windows = views.select(col("user_id"), col("ts_us").as("w_start"),
            (col("ts_us") + 60L * 1000000L).as("w_end"))
          Seq(RangeJoinExec.pointInRange(clicks, windows, keys = Seq("user_id"),
            ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
            valCols = Seq("w_start"))
            .groupBy("event_id").agg(count(lit(1)).as("n_windows")))
        })
      val result = new SqlNode("asof_dag_result",
        Seq("dag_clicks_enriched", "dag_click_attribution"),
        sqls = Map("asof_dag_result" ->
          """SELECT e.event_id, e.user_id, e.ts_us, e.view_value,
            |  coalesce(a.n_windows, CAST(0 AS BIGINT)) AS n_windows
            |FROM dag_clicks_enriched e
            |LEFT JOIN dag_click_attribution a ON e.event_id = a.event_id""".stripMargin))
      // every intermediate feeds the one result write, so the 4-node DAG
      // composes into one Catalyst query, the shape of the oracle's CTEs
      new EtlGroup("asof_dag", Seq(extract, enrich, attrib, result))
        .execute(cat, maxActiveRun = 2)
      cat.read("asof_dag_result")
    }),

    // incremental cache merge: new run wins per key, cache fills the rest
    // (crawl.py:117-153 keep-first pattern as a query)
    "q_cache_merge" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val newRun = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), lit("new").as("src"))
      val cached = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), lit("cached").as("src"))
      Incremental.mergeKeepFirst(newRun, cached, Seq("o_orderkey"))
    }),

    // S8/S9 end-to-end under the oracle gate: a CrawlNode drives TWO rounds
    // against a LocalFsSource whose content derives deterministically from
    // the nation/region tables. Round 1 fetches every nation key (plain
    // GET). Between rounds, nationkey%5==0 files change (round 2 must 200
    // and overwrite), %5==1 files vanish upstream (conditional fetch sees
    // Gone; the CACHED row must survive the keep-first merge), the rest are
    // untouched (304 -> cached row survives), and region names appear as
    // brand-new trigger keys (plain GET, appended). The returned snapshot is
    // the node's second-run output read back from the Catalog — exercising
    // trigger -> conditional fetch -> merge -> {id}_cache snapshot state,
    // reference examples/canon/crawl.py:117-153.
    "q_crawl_incremental" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets
      import java.nio.file.Files
      // one collect for both fixture tables (region rows carry key -1):
      // fixture setup is constant cost per bench sample, keep it one job
      val fixture = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").cast("string").as("n"))
        .unionByName(t(s, dir, "region").select(lit(-1L).as("k"), col("r_name").cast("string").as("n")))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val nations = fixture.filter(_._1 >= 0)
      val regions = fixture.filter(_._1 < 0).map(_._2)
      val tmp = Files.createTempDirectory("graft_crawl_")
      graft.TempCleanup.deleteOnExit(tmp) // result parquet is read lazily; clean at JVM exit
      val srcDir = Files.createDirectory(tmp.resolve("src"))
      def put(key: String, rev: Int): Unit = {
        Files.write(srcDir.resolve(key + ".json"),
          s"""{"key":"$key","rev":$rev}""".getBytes(StandardCharsets.UTF_8))
        ()
      }
      nations.foreach { case (_, name) => put(name, 1) }
      val source = graft.sources.LocalFsSource(srcDir.toString)
      val cat = new graft.engine.Catalog(s, tmp.resolve("cat").toString)
      val node = new graft.sources.CrawlNode("crawl", source, "crawl_latest")
      node.execute(cat)
      nations.foreach { case (k, name) =>
        if (k % 5 == 0) put(name, 2)
        else if (k % 5 == 1) Files.delete(srcDir.resolve(name + ".json"))
      }
      regions.foreach(put(_, 1))
      node.execute(cat)
      cat.read("crawl_latest")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_json_struct" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_json_array" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents""".stripMargin,

    "q_json_map" ->
      """SELECT doc_id, 'lang' AS prop, lang AS value FROM documents
        |UNION ALL
        |SELECT doc_id, 'source' AS prop, source AS value FROM documents""".stripMargin,

    "q_partition_hash" -> {
      def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), $i, 1)) - 1)"
      s"""SELECT o_orderkey,
         |  CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 16 AS BIGINT) AS partition
         |FROM orders""".stripMargin
    },

    "q_hash_ids" ->
      """WITH nodes AS (
        |  SELECT DISTINCT hash(o_orderpriority) AS node_id, o_orderpriority AS license FROM orders),
        |refs AS (SELECT hash(o_orderpriority) AS ref_id FROM orders)
        |SELECT license, count(*) AS cnt
        |FROM refs JOIN nodes ON ref_id = node_id GROUP BY license""".stripMargin,

    "q_text_norm" ->
      """SELECT p_partkey,
        |  trim(regexp_replace(lower(regexp_replace(concat_ws(' ', p_name, p_brand, p_type),
        |    '[\n\-/''",:]', ' ', 'g')), '\s+', ' ', 'g')) AS norm
        |FROM part""".stripMargin,

    "q_intersect" ->
      """SELECT DISTINCT l_partkey AS id FROM lineitem WHERE l_quantity > 45
        |INTERSECT
        |SELECT p_partkey AS id FROM part WHERE p_size > 30""".stripMargin,

    "q_json_cardinality" ->
      """SELECT event_id, CAST(len(regexp_extract_all(props, '"[^"]+" *:')) AS BIGINT) AS n_props
        |FROM events""".stripMargin,

    "q_sentence_features" ->
      """SELECT doc_id,
        |  '<start> ' || string_split(s, '.')[1] AS title,
        |  '<start> ' || array_to_string(string_split(s, '.')[1:2], '.
        |') AS title_n_first_line
        |FROM (SELECT doc_id, replace(text, ' table', '. table') AS s FROM documents) d""".stripMargin,

    // batch restatement of the stateful stream: sessionize, aggregate each
    // session, drop each user's last (still-open in the stream) session
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, tsu,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM e),
        |g AS (
        |  SELECT user_id, seq, min(tsu) AS start_micros, max(tsu) AS end_micros,
        |    count(*) AS n_events
        |  FROM s GROUP BY 1, 2),
        |m AS (SELECT *, max(seq) OVER (PARTITION BY user_id) AS mx FROM g)
        |SELECT user_id, start_micros, end_micros, n_events FROM m WHERE seq < mx""".stripMargin,

    "q_sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events) e""".stripMargin,

    // sessions via the lag formulation: break only when the gap is EXCEEDED
    // (Spark's session_window merges at exactly-gap — spec-pinned)
    "q_stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, tsu,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e)
        |SELECT user_id, min(tsu) AS session_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sess""".stripMargin,

    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // the oracle states the range join DECLARATIVELY — DuckDB plans the
    // inequality condition with its own IEJoin, an independent execution
    // strategy for the same semantics
    "q_range_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |windows AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS w_start,
        |    epoch_us(ts) + 60000000 AS w_end
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id, w.view_id, c.user_id, c.ts_us
        |FROM clicks c JOIN windows w
        |  ON c.user_id = w.user_id AND c.ts_us BETWEEN w.w_start AND w.w_end""".stripMargin,

    // bit-interleave mirrored in DuckDB lambda arithmetic: column 0 owns the
    // even output bits, column 1 the odd ones
    "q_zorder_key" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(generate_series(0, 9), i ->
        |    ((((l_partkey % 1024) >> i) & 1) << (2*i))
        |    + ((((l_suppkey % 1024) >> i) & 1) << (2*i + 1))
        |  )) AS BIGINT) AS zkey
        |FROM lineitem""".stripMargin,

    // the STREAM-STREAM formulation must produce the identical row set as
    // the declarative batch range join over the same backlog
    "q_stream_interval_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |windows AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS w_start,
        |    epoch_us(ts) + 60000000 AS w_end
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id, w.view_id, c.user_id, c.ts_us
        |FROM clicks c JOIN windows w
        |  ON c.user_id = w.user_id AND c.ts_us BETWEEN w.w_start AND w.w_end""".stripMargin,

    // DuckDB's native forward ASOF (the <= comparator flips the direction)
    "q_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts_us, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts_us <= v.ts_us""".stripMargin,

    "q_skew_join" ->
      """SELECT l_orderkey, l_partkey, l_quantity, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    // the oracle uses DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the same semantics
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts_us, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts_us >= v.ts_us""".stripMargin,

    // same DAG, declaratively: DuckDB's native ASOF JOIN + its IEJoin range
    // strategy — independent executions of both composed operators
    "q_asof_dag" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |enriched AS (
        |  SELECT c.event_id, c.user_id, c.ts_us, v.view_value
        |  FROM clicks c ASOF LEFT JOIN views v
        |    ON c.user_id = v.user_id AND c.ts_us >= v.ts_us),
        |attrib AS (
        |  SELECT c.event_id, count(*) AS n_windows
        |  FROM clicks c JOIN views v
        |    ON c.user_id = v.user_id AND c.ts_us BETWEEN v.ts_us AND v.ts_us + 60000000
        |  GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.ts_us, e.view_value,
        |  coalesce(a.n_windows, 0) AS n_windows
        |FROM enriched e LEFT JOIN attrib a USING (event_id)""".stripMargin,

    "q_cache_merge" ->
      """SELECT o_orderkey, o_totalprice, src FROM (
        |  SELECT u.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY pref) AS rn FROM (
        |    SELECT o_orderkey, o_totalprice, 'new' AS src, 0 AS pref FROM orders WHERE o_orderkey % 3 = 0
        |    UNION ALL
        |    SELECT o_orderkey, o_totalprice, 'cached' AS src, 1 AS pref FROM orders WHERE o_orderkey % 2 = 0) u) r
        |WHERE rn = 1""".stripMargin,

    // mirrors the crawl's final snapshot: nations keep rev 1 except the
    // %5==0 updates (rev 2); %5==1 deletions survive from cache at rev 1;
    // regions join as new keys; etag is the MD5 content digest both engines
    // compute over identical byte strings
    "q_crawl_incremental" ->
      """WITH nat AS (
        |  SELECT n_name AS name,
        |    '{"key":"' || n_name || '","rev":' ||
        |      CASE WHEN n_nationkey % 5 = 0 THEN '2' ELSE '1' END || '}' AS latest
        |  FROM nation),
        |reg AS (
        |  SELECT r_name AS name, '{"key":"' || r_name || '","rev":1}' AS latest FROM region),
        |u AS (SELECT * FROM nat UNION ALL SELECT * FROM reg)
        |SELECT name, latest, md5(latest) AS etag FROM u""".stripMargin
  )
}
