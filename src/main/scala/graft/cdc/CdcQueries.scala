package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A-series queries (SURVEY.md §2.A): the reference's CDC surface,
  * re-expressed Spark-first, each with a DuckDB oracle.
  *
  * The decode paths are verified by roundtrip: Spark encodes the
  * canonical change feed to the wire format (binary pgoutput / wal2json
  * JSON / Debezium JSON), decodes it back distributed, and the result
  * must hash-match a plain SQL projection of the source table.
  */
object CdcQueries {

  import ChangeFeed.{tsFmt, tsFmtDuck, changesSql}

  /** Shared output shape for the three parser roundtrips. */
  private val parsedOracle: String =
    s"""WITH $changesSql
       |SELECT op, key AS user_id,
       |  CASE WHEN op = 'd' THEN NULL ELSE event_type END AS event_type,
       |  CASE WHEN op = 'd' THEN NULL ELSE value END AS value,
       |  CASE WHEN op = 'd' THEN NULL ELSE strftime(ts, '$tsFmtDuck') END AS ts_str,
       |  seq
       |FROM changes ORDER BY seq""".stripMargin

  // ---------------------------------------------------------------- A1
  def pgoutputDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val changes = ChangeFeed.fromEvents(s, dir)
    val wire = changes.select(struct(
      when($"op" === "i", "I").when($"op" === "d", "D").otherwise("U").as("op"),
      lit(1).as("relation_id"),
      array($"key".cast("string"), $"seq".cast("string")).as("key_cells"),
      when($"op" =!= "d",
        array($"key".cast("string"), $"event_type", $"value".cast("string"),
          date_format($"ts", tsFmt), $"seq".cast("string"))).as("cells")).as("m"))
      .select(expr("pg_encode(m)").as("raw"))
    val d = wire.select(expr("pg_decode(raw)").as("d")).select($"d.*")
    d.select(
      when($"op" === "I", "i").when($"op" === "D", "d").otherwise("u").as("op"),
      when($"op" === "D", element_at($"key_cells", 1))
        .otherwise(element_at($"cells", 1)).cast("long").as("user_id"),
      when($"op" =!= "D", element_at($"cells", 2)).as("event_type"),
      when($"op" =!= "D", element_at($"cells", 3)).cast("double").as("value"),
      when($"op" =!= "D", element_at($"cells", 4)).as("ts_str"),
      when($"op" === "D", element_at($"key_cells", 2))
        .otherwise(element_at($"cells", 5)).cast("long").as("seq"))
      .orderBy($"seq")
  }

  // ---------------------------------------------------------------- A2
  def wal2jsonParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
    val cols = Seq("user_id", "event_type", "value", "ts", "event_id")
    val types = Seq("bigint", "text", "double precision", "timestamp", "bigint")
    val doc = changes.select(to_json(struct(array(struct(
      when($"op" === "i", "insert").when($"op" === "d", "delete")
        .otherwise("update").as("kind"),
      lit("public").as("schema"),
      lit("users").as("table"),
      when($"op" =!= "d", array(cols.map(lit): _*)).as("columnnames"),
      when($"op" =!= "d", array(types.map(lit): _*)).as("columntypes"),
      when($"op" =!= "d",
        array($"key".cast("string"), $"event_type", $"value".cast("string"),
          date_format($"ts", tsFmt), $"seq".cast("string"))).as("columnvalues"),
      when($"op" === "d", struct(
        array(lit("user_id"), lit("event_id")).as("keynames"),
        array(lit("bigint"), lit("bigint")).as("keytypes"),
        array($"key".cast("string"), $"seq".cast("string")).as("keyvalues")))
        .as("oldkeys"))).as("change"))).as("doc"))
    val flat = JsonParsers.wal2jsonFlatten(
      doc.select(JsonParsers.parseWal2Json($"doc").as("change")), "change")
    flat.select(
      when($"kind" === "insert", "i").when($"kind" === "delete", "d")
        .otherwise("u").as("op"),
      coalesce($"after"("user_id"), $"old_keys"("user_id")).cast("long").as("user_id"),
      $"after"("event_type").as("event_type"),
      $"after"("value").cast("double").as("value"),
      $"after"("ts").as("ts_str"),
      coalesce($"after"("event_id"), $"old_keys"("event_id")).cast("long").as("seq"))
      .orderBy($"seq")
  }

  // ---------------------------------------------------------------- A3
  def debeziumParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
    val rowType = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts", StringType),
      StructField("event_id", LongType)))
    val row = struct($"key".as("user_id"), $"event_type", $"value",
      date_format($"ts", tsFmt).as("ts"), $"seq".as("event_id"))
    val doc = changes.select(to_json(struct(
      when($"op" === "i", "c").when($"op" === "d", "d").otherwise("u").as("op"),
      expr("unix_micros(ts) div 1000").as("ts_ms"),
      when($"op" === "d", row).as("before"),
      when($"op" =!= "d", row).as("after"),
      struct(lit("users").as("table"), $"seq".as("lsn")).as("source"))).as("doc"))
    doc.select(JsonParsers.parseDebezium($"doc", rowType).as("e"))
      .select(
        when($"e.op" === "c", "i").when($"e.op" === "d", "d").otherwise("u").as("op"),
        coalesce($"e.after.user_id", $"e.before.user_id").as("user_id"),
        $"e.after.event_type".as("event_type"),
        $"e.after.value".as("value"),
        $"e.after.ts".as("ts_str"),
        $"e.source.lsn".as("seq"))
      .orderBy($"seq")
  }

  // ---------------------------------------------------------------- A4
  def latestState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ApplyChanges.latest(ChangeFeed.fromEvents(s, dir), Seq("key"), Seq("seq"))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format($"ts", tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- A5
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ApplyChanges.scd2(ChangeFeed.fromEvents(s, dir), Seq("key"), "seq", "ts")
      .select($"key".as("user_id"), $"seq", $"event_type", $"value",
        date_format($"valid_from", tsFmt).as("valid_from"),
        date_format($"valid_to", tsFmt).as("valid_to"),
        $"is_current")
      .orderBy($"user_id", $"seq")
  }

  // ---------------------------------------------------------------- A6
  def eventStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ChangeFeed.fromEvents(s, dir)
      .groupBy($"op", date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n_changes"),
        (floor(sum($"value") * 100 + 0.5) / 100).as("total_value"))
      .orderBy($"op", $"hour")
  }

  // ---------------------------------------------------------------- A7
  /** Bounded file-source stand-in for the Kafka/Debezium feed. The
    * file source wants a directory: when `events.parquet` IS a
    * directory of part files (ScaleUp replicas, lake layouts) stream
    * it directly; when it is a single file (driver test data),
    * glob-filter it out of the sf dir — the glob matches leaf FILE
    * names, so it would silently match nothing in the directory
    * layout (caught by the event-time invariant below). The declared
    * schema is resolved from the parquet footer and `ts` arrives
    * normalized to TIMESTAMP micros ([[graft.Tables.eventTs]] —
    * nanos-long and TIMESTAMP_NTZ files both land on the same
    * representation), with the post-2000 event-time invariant
    * asserted up front. */
  private def rawEventStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.eventsSchema(s, dir)
    val eventsPath = s"$dir/events.parquet"
    val isDir = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, "events.parquet"))
    CdcStream.assertEventTimeSane(s, eventsPath, schema)
    val raw =
      if (isDir) s.readStream.schema(schema).parquet(eventsPath)
      else s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    raw.withColumn("ts", graft.Tables.eventTs(schema("ts").dataType))
  }

  private def changeStream(s: SparkSession, dir: String): Dataset[ChangeRecord] = {
    import s.implicits._
    // same well-formedness predicate as the batch synthesis — the
    // framing fields are mandatory on the wire (ChangeFeed contract)
    rawEventStream(s, dir)
      .filter(ChangeFeed.wellFormedSql)
      .select($"user_id".as("key"), $"event_id".as("seq"),
        when($"event_type" === "signup", "i").when($"event_type" === "error", "d")
          .otherwise("u").as("op"),
        $"event_type", $"value", unix_micros($"ts").as("tsMicros"))
      .as[ChangeRecord]
  }

  def streamUpserts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runLatestStateBounded(s, changeStream(s, dir))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- A8
  def streamWindowed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runWindowedBounded(s, dir)
      .orderBy($"hour_start", $"event_type")
  }

  // ---------------------------------------------------------------- A9
  /** Relation-registry schema evolution (reference migrations 001→002:
    * add/drop column mid-stream). The feed interleaves Relation
    * messages with data rows: the `users` relation cycles every 1000
    * LSNs through v0(user_id,event_type,ts,event_id) →
    * v1(+value) → v2(−event_type). The decoder reconstructs each row's
    * columns *from the stream alone*: a schema-as-of interval join
    * (Relation valid from its LSN until the next one) supplies the
    * column names, `map_from_arrays` re-keys the cells.
    *
    * Scale: the schema table is tiny by nature (schema changes are
    * rare), so the as-of join is a broadcast interval join — data rows
    * never shuffle. This is the declarative twin of the reference's
    * in-memory RelationSet registry (main.go:380-430). */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val changes = ChangeFeed.fromEvents(s, dir)

    def colsFor(v: Int): Seq[String] = v match {
      case 0 => Seq("user_id", "event_type", "ts", "event_id")
      case 1 => Seq("user_id", "event_type", "ts", "event_id", "value")
      case _ => Seq("user_id", "ts", "event_id", "value")
    }
    // Relation wire messages are version-constant: encode once, attach
    // as literals to each epoch boundary.
    val relBytes: IndexedSeq[Array[Byte]] = (0 to 2).map { v =>
      PgOutput.encode(PgOutput.Relation(1, "public", "users", 'd'.toByte,
        colsFor(v).map(c =>
          PgOutput.RelColumn(key = c == "user_id" || c == "event_id", c, 25, -1))))
    }
    val epoch = floor($"seq" / 1000).cast("long")
    val relMsgs = changes.select(epoch.as("epoch")).distinct()
      .select(($"epoch" * 1000).as("seq"), lit(0).as("subseq"),
        when($"epoch" % 3 === 0, lit(relBytes(0)))
          .when($"epoch" % 3 === 1, lit(relBytes(1)))
          .otherwise(lit(relBytes(2))).as("raw"))

    val tsStr = date_format($"ts", tsFmt)
    val cellsByVersion = Map(
      0 -> array($"key".cast("string"), $"event_type", tsStr, $"seq".cast("string")),
      1 -> array($"key".cast("string"), $"event_type", tsStr, $"seq".cast("string"),
        $"value".cast("string")),
      2 -> array($"key".cast("string"), tsStr, $"seq".cast("string"),
        $"value".cast("string")))
    val dataMsgs = changes.select($"seq", lit(1).as("subseq"), struct(
        when($"op" === "i", "I").when($"op" === "d", "D").otherwise("U").as("op"),
        lit(1).as("relation_id"),
        array($"key".cast("string"), $"seq".cast("string")).as("key_cells"),
        when($"op" =!= "d",
          when(epoch % 3 === 0, cellsByVersion(0))
            .when(epoch % 3 === 1, cellsByVersion(1))
            .otherwise(cellsByVersion(2))).as("cells")).as("m"))
      .select($"seq", $"subseq", expr("pg_encode(m)").as("raw"))

    // ---- the decoder: stream of (seq, subseq, raw) only from here on
    val wire = relMsgs.unionByName(dataMsgs)
    // both consumers (registry, data rows) filter on the DECODED op, so
    // neither filter can push below pg_decode — persist the decoded
    // stream so the feed is encoded+decoded once, not once per branch
    // (lifetime bounded by the harness clearCache, like C2/C3)
    val d = wire.select($"seq", $"subseq", expr("pg_decode(raw)").as("d"))
      .persist()
    // registry = Relation messages with validity intervals (as-of)
    val wNext = org.apache.spark.sql.expressions.Window.orderBy($"valid_from")
    val registry = d.filter($"d.op" === "R")
      .select($"seq".as("valid_from"), $"d.col_names".as("col_names"))
      .withColumn("valid_to",
        coalesce(lead($"valid_from", 1).over(wNext), lit(Long.MaxValue)))
    val rows = d.filter($"d.op".isin("I", "U", "D"))
      .select($"seq", $"d.op".as("mop"), $"d.key_cells".as("key_cells"),
        $"d.cells".as("cells"))
    val joined = rows.join(broadcast(registry),
      $"seq" >= $"valid_from" && $"seq" < $"valid_to")
    val m = map_from_arrays($"col_names", $"cells")
    val keyM = map_from_arrays(array(lit("user_id"), lit("event_id")), $"key_cells")
    joined.select($"seq",
        when($"mop" === "I", "i").when($"mop" === "D", "d").otherwise("u").as("op"),
        when($"mop" === "D", keyM("user_id")).otherwise(m("user_id"))
          .cast("long").as("user_id"),
        when($"mop" =!= "D", m("event_type")).as("event_type"),
        when($"mop" =!= "D", m("value")).cast("double").as("value"))
      .orderBy($"seq")
  }

  // --------------------------------------------------------------- A10
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = rawEventStream(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    CdcStream.runStreamJoinBounded(s, events)
      .select($"user_id", $"signup_seq", $"purchase_seq",
        $"purchase_value",
        date_format($"signup_ts", tsFmt).as("signup_ts"),
        date_format($"purchase_ts", tsFmt).as("purchase_ts"))
      .orderBy($"signup_seq", $"purchase_seq")
  }

  // --------------------------------------------------------------- A11
  /** Dup-injected stream (every 7th event re-sent) deduped exactly by
    * event_id with watermark-bounded state. */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = rawEventStream(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val withDups = raw.unionByName(raw.filter($"event_id" % 7 === 0))
    CdcStream.runStreamDedupBounded(s, withDups)
      .select($"event_id", $"user_id", $"event_type", $"value",
        date_format($"ts", tsFmt).as("ts_str"))
      .orderBy($"event_id")
  }

  // --------------------------------------------------------------- A12
  /** Streaming SCD2: history maintained in per-key state; bounded
    * result must equal the batch scd2 oracle. */
  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runScd2Bounded(s, changeStream(s, dir))
      .filter($"op" =!= "d")
      .select($"key".as("user_id"), $"seq", $"event_type", $"value",
        date_format(timestamp_micros($"valid_from_us"), tsFmt).as("valid_from"),
        date_format(timestamp_micros($"valid_to_us"), tsFmt).as("valid_to"),
        $"is_current")
      .orderBy($"user_id", $"seq")
  }

  // --------------------------------------------------------------- A13
  /** Streaming event-time session windows (30-min gap) per user.
    * `session_window` only supports APPEND output, which finalizes a
    * session when the watermark passes it — the bounded replay uses
    * the end-of-stream punctuation of
    * [[CdcStream.runPunctuatedAppend]]. */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runPunctuatedAppend(s, dir) { raw =>
      raw.select($"ts", $"user_id", $"value")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          (floor(sum($"value") * 100 + 0.5) / 100).as("total_value"))
    }
      .filter($"user_id" >= 0)
      .select($"user_id",
        date_format($"session_window.start", tsFmt).as("session_start"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  // --------------------------------------------------------------- A14
  /** AS-OF join via the custom operator (graft.plans.AsOfJoinPlan →
    * AsOfJoinExec merge-scan): every purchase event picks up the
    * user's latest non-purchase state row at or before the purchase —
    * "replay the table as of this WAL position", the CDC primitive. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"),
        expr("unix_micros(ts)").as("p_ts"))
    val state = ev.filter($"event_type" =!= "purchase")
      .select($"event_id".as("s_id"), $"user_id".as("s_user"),
        expr("unix_micros(ts)").as("s_ts"), $"event_type".as("s_type"),
        $"value".as("s_value"))
    graft.plans.AsOf.join(purchases, state,
        "p_user", "p_ts", "p_id", "s_user", "s_ts", "s_id")
      .select($"p_id", $"p_user", $"s_id", $"s_type", $"s_value")
      .orderBy($"p_id")
  }

  // --------------------------------------------------------------- A15
  /** Truncate handling (reference wire op 'T'): a TRUNCATE in the feed
    * clears the whole table at its LSN, so only changes after the LAST
    * truncate contribute to the materialized state. Truncate markers
    * are derived at every 2500-seq boundary present in the feed; the
    * last-marker scalar is a 1-row broadcast (no driver loop), then
    * the usual latest-state window applies. */
  def truncateApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
    val lastTrunc = changes
      .select(floor($"seq" / 2500).cast("long").as("b")).where($"b" > 0)
      .agg(coalesce(max($"b") * 2500, lit(0L)).as("trunc_seq"))
    val survivors = changes.crossJoin(broadcast(lastTrunc))
      .filter($"seq" > $"trunc_seq")
    ApplyChanges.latest(survivors, Seq("key"), Seq("seq"))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A16
  /** Stream-static enrichment: the change stream joins the (slowly
    * changing, broadcastable) customer dimension each micro-batch —
    * the standard "enrich CDC events with reference data" topology.
    * The static side re-resolves per batch, so dim updates are picked
    * up without restarting the stream. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = "graft_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val cust = graft.Tables.table(s, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    val enriched = rawEventStream(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .join(broadcast(cust), $"user_id" === $"c_custkey")
    val q = enriched.writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .select($"event_id", $"user_id", $"c_name", $"c_mktsegment", $"value")
      .orderBy($"event_id")
  }

  // --------------------------------------------------------------- A17
  /** Quarantine accounting: a deterministically corrupted feed (every
    * 97th message gets its type byte zeroed) decoded permissively;
    * corrupt records surface as NULL and are counted, never killing
    * the stage — the operational posture at 100 TB. */
  def decodeQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val changes = ChangeFeed.fromEvents(s, dir)
    val wire = changes.select($"seq", struct(
        when($"op" === "i", "I").when($"op" === "d", "D").otherwise("U").as("op"),
        lit(1).as("relation_id"),
        array($"key".cast("string"), $"seq".cast("string")).as("key_cells"),
        when($"op" =!= "d",
          array($"key".cast("string"), $"event_type")).as("cells")).as("m"))
      .select($"seq", expr("pg_encode(m)").as("raw"))
      // zero the message-type byte of every 97th record
      .select($"seq", when($"seq" % 97 === 0,
          concat(lit(Array[Byte](0)), expr("substring(raw, 2, length(raw))")))
        .otherwise($"raw").as("raw"))
    wire.select(expr("pg_decode_permissive(raw)").as("d"))
      .agg(count(lit(1)).as("n_total"),
        count($"d").as("n_ok"),
        (count(lit(1)) - count($"d")).as("n_quarantined"))
  }

  // --------------------------------------------------------------- A18
  /** Streaming sliding-window aggregate: 1-hour windows sliding every
    * 15 minutes (each event lands in 4 overlapping windows) per
    * event_type. Watermark + APPEND with end-of-stream punctuation
    * ([[CdcStream.runPunctuatedAppend]]): each of the 4 overlapping
    * windows finalizes once the watermark passes its end, so state is
    * bounded and nothing is rewritten per batch. The batch oracle
    * expands the 4 window memberships explicitly. */
  def streamSliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runPunctuatedAppend(s, dir) { raw =>
      raw.select($"ts", $"event_type", $"value")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          (floor(sum($"value") * 100 + 0.5) / 100).as("total_value"))
    }
      // null-SAFE sentinel drop: a NULL event_type is a real group
      // (dirty feeds have them); `=!= "sentinel"` alone would silently
      // swallow it. Null-TS rows have no window and are excluded by
      // the watermark runtime — the oracle carries the same predicate.
      .filter($"event_type".isNull || $"event_type" =!= "sentinel")
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
        $"event_type", $"n_events", $"total_value")
      .orderBy($"win_start", $"event_type")
  }

  // --------------------------------------------------------------- A19
  /** Resume-from-LSN: the restart/exactly-once story of a CDC consumer
    * (reference main.go:64–100 tracks `clientXLogPos` and acks it via
    * StandbyStatusUpdate; on restart the server re-sends only LSNs
    * after the ack). Modeled: the acked position is 60% through the
    * feed (a deterministic 1-row broadcast scalar — no driver loop);
    * the state snapshot materialized before the restart covers
    * seq ≤ ack; the replay applies EXACTLY the unacked suffix
    * (seq > ack) on top of it. The merged result must equal the
    * full-feed materialization — that equality is the oracle.
    *
    * Scale: snapshot + suffix + merge are each one hash shuffle on
    * `key`; the suffix is the only re-read data, which is the point of
    * acking (restart cost ∝ unacked tail, not feed length). */
  def resumeFromLsn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
    val ack = changes.agg(floor(max($"seq") * 0.6).cast("long").as("ack_lsn"))
    val tagged = changes.crossJoin(broadcast(ack))
    // state as of the acked LSN (what survived the restart)
    val snapshot = ApplyChanges.latest(
      tagged.filter($"seq" <= $"ack_lsn"), Seq("key"), Seq("seq"))
    // replay exactly the unacked suffix; suffix seqs all exceed
    // snapshot seqs, so one more latest() resolves the merge (suffix
    // deletes tombstone keys out of the snapshot)
    val suffix = tagged.filter($"seq" > $"ack_lsn")
    ApplyChanges.latest(snapshot.unionByName(suffix), Seq("key"), Seq("seq"))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"), $"ack_lsn")
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A30
  /** Initial-snapshot bootstrap + WAL tail — the Debezium incremental-
    * snapshot contract, the CDC lifecycle step A19 doesn't cover: a
    * NEW consumer arrives after WAL retention already truncated the
    * prefix, so it can't replay from seq 0. The WAL retains only
    * seq > W_LO; the existing table is snapshot in 8 key-chunks, each
    * chunk captured at its own LSN W_c ∈ (W_LO, W_HI] (chunked reads
    * interleave with live traffic — the Debezium watermark-window
    * shape), every snapshot row carrying the seq of the change that
    * produced it. Bootstrap = latest() over (snapshot ∪ retained
    * tail): a tail change post-dating a snapshot row beats it by seq
    * order; a change inside the overlap window (W_LO, W_c] appears on
    * BOTH sides but the copies are identical rows, so either wins; a
    * tail delete tombstones its snapshot row; a key deleted before
    * its chunk's W_c simply isn't in the snapshot.
    *
    * The feed is RE-KEYED so a fifth of the keyspace retires over
    * time (those keys carry an epoch suffix that rolls every 1000
    * seqs) — real tables have cold keys; without them every key's
    * last change post-dates any snapshot cut and the snapshot side
    * would be vacuously dead (CdcQueriesSpec pins both provenances +
    * the overlap window non-vacuous).
    *
    * The oracle is the STRAIGHT full-feed materialization (A4's
    * latest-state) — any gap, double-apply, or ordering bug in the
    * bootstrap construction hash-fails, proving snapshot+tail is
    * EXACTLY equivalent to never having lost the prefix.
    *
    * 100 TB: snapshot and merge are one latest() each (single key
    * shuffle, chunk LSNs are scalar arithmetic on a broadcast one-row
    * bound); the snapshot side reads the TABLE (not the WAL), which
    * is what makes bootstrap after retention possible at all. */
  def snapshotBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val C = 8
    val changes = bootstrapChanges(s, dir)
    val bounds = changes.agg(
      floor(max($"seq") * 0.3).cast("long").as("w_lo"),
      floor(max($"seq") * 0.7).cast("long").as("w_hi"))
    val tagged = changes.crossJoin(broadcast(bounds))
      .withColumn("w_c",
        expr(s"w_lo + ((pmod(key, $C) + 1) * (w_hi - w_lo)) div $C"))
    val snapshot = ApplyChanges.latest(
      tagged.filter($"seq" <= $"w_c"), Seq("key"), Seq("seq"))
    val tail = tagged.filter($"seq" > $"w_lo")
    ApplyChanges.latest(snapshot.unionByName(tail), Seq("key"), Seq("seq"))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        ($"seq" <= $"w_lo").as("from_snapshot"))
      .orderBy($"user_id")
  }

  /** A30's change feed: keys where user_id % 5 == 0 retire every 100
    * seqs (a monotone, never-recurring epoch suffix) so cold keys
    * exist at every SF — the snapshot side of the bootstrap has real
    * work to do. The 1e6 spacing keeps suffixes collision-free up to
    * 1e8 seqs. */
  private[cdc] def bootstrapChanges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    ChangeFeed.fromEvents(s, dir).withColumn("key",
      when(pmod($"key", lit(5)) === 0,
        $"key" * 1000000L + expr("seq div 100"))
        .otherwise($"key" * 1000000L))
  }
  private val bootstrapChangesSql: String =
    """ch2 AS (SELECT seq, ts,
      |    CASE WHEN key % 5 = 0 THEN key * 1000000 + seq // 100
      |         ELSE key * 1000000 END AS key,
      |    op, event_type, value, props
      |  FROM changes)""".stripMargin

  // --------------------------------------------------------------- A31
  /** Transactional atomic apply — the consistency contract carried by
    * the reference's Begin(B)/Commit(C) envelope (main.go:299–365
    * parses them; a consumer must apply a transaction's changes
    * all-or-nothing, never a torn prefix). The feed's transactions
    * are consecutive-seq groups of 10 (xid = seq div 10, commit LSN =
    * the tx's max seq — batched commits); a consumer reading up to
    * CUT applies exactly the transactions whose COMMIT is ≤ CUT. The
    * tx spanning the cut is the non-vacuous case: its early changes
    * have seq ≤ CUT but are EXCLUDED, where A19's plain seq-cut would
    * tear it — the materialized difference is what this query pins.
    * The cut sits at floor(0.6·max)+3 — NOT on a tx boundary, so with
    * the feed's dense seqs a spanning tx always exists
    * (CdcQueriesSpec asserts it and that no torn change leaks).
    *
    * 100 TB: commit resolution is one map-side-combinable xid agg +
    * an xid-keyed join (txs are tiny groups, the agg collapses them
    * map-side); then the single latest() key shuffle. */
  def txAtomicApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
      .withColumn("xid", expr("seq div 10"))
    val cut = changes.agg(
      (floor(max($"seq") * 0.6).cast("long") + 3).as("cut_lsn"))
    val tagged = changes.crossJoin(broadcast(cut))
    val commits = tagged.groupBy($"xid").agg(max($"seq").as("commit_seq"))
    val committed = tagged.join(commits, "xid")
      .filter($"commit_seq" <= $"cut_lsn")
    ApplyChanges.latest(committed, Seq("key"), Seq("seq"))
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        $"xid", $"commit_seq")
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A32
  /** Replication-lag metrics — the observable face of the reference's
    * keepalive/StandbyStatusUpdate loop (main.go:64–100: the client
    * periodically reports its write/flush position; the DBA question
    * is always "how far behind is the consumer, and where is the
    * backlog"). With the consumer acked at 60% of the WAL (A19's
    * convention): per event-hour and in TOTAL, the change counts
    * split acked/backlog plus the event-time lag — the gap between
    * the newest change and the newest ACKED change in that bucket
    * (null where nothing is acked yet, i.e. pure backlog hours).
    *
    * 100 TB: one map-side-combinable rollup per grain over a
    * broadcast one-row ack scalar; no joins, no windows. */
  def lagMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
    val ack = changes.agg(floor(max($"seq") * 0.6).cast("long").as("ack_lsn"))
    val tagged = changes.crossJoin(broadcast(ack))
    val aggs = Seq(count(lit(1)).as("n_changes"),
      sum(when($"seq" <= $"ack_lsn", 1L).otherwise(0L)).as("n_acked"),
      sum(when($"seq" > $"ack_lsn", 1L).otherwise(0L)).as("n_backlog"),
      (unix_micros(max($"ts")) -
        unix_micros(max(when($"seq" <= $"ack_lsn", $"ts"))))
        .as("lag_micros"))
    val hourly = tagged
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss")
        .as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
    // TOTAL is a GLOBAL aggregate, not groupBy(lit): identical on any
    // populated feed, but on an EMPTY feed SQL's global agg emits its
    // one (0, NULL…) row — which the oracle's no-GROUP-BY arm does —
    // while a constant groupBy emits zero rows (r11 empty-input sweep)
    val total = tagged.agg(aggs.head, aggs.tail: _*)
      .select(lit("TOTAL").as("bucket"), $"n_changes", $"n_acked",
        $"n_backlog", $"lag_micros")
    hourly.unionByName(total)
      .orderBy($"bucket")
  }

  // --------------------------------------------------------------- A33
  /** Late-arrival audit — the input to every watermark decision the
    * A8/A10/A13 streaming operators take as given: for candidate
    * delays {1 h, 6 h, 24 h}, how many changes would arrive BEHIND
    * the watermark and be dropped? The watermark is modeled exactly
    * the way Structured Streaming advances it: per arrival batch
    * (seq div 1000 — the WAL-segment grain), the watermark a batch
    * sees is the running max event time of all PRIOR batches; a
    * change is late for delay D iff its event time + D still trails
    * that watermark.
    *
    * The feed's event time is monotone with seq, so stragglers are
    * INJECTED deterministically (every 17th change carries an event
    * time 2–31 h older than its arrival position — a mobile client
    * flushing its offline buffer): each delay tier then drops a
    * different, non-zero share, which is the curve the audit exists
    * to draw.
    *
    * 100 TB: per-batch maxima are one map-side-combinable agg; the
    * running max runs over the BATCH table (segment-count rows —
    * bounded metadata, the A19 scalar pattern), broadcast back; the
    * three delay rollups share one tagged scan. */
  def lateArrivalAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val changes = ChangeFeed.fromEvents(s, dir)
      .withColumn("ts", when(pmod($"seq", lit(17)) === 0,
        timestamp_micros(unix_micros($"ts") -
          (lit(2L) + pmod($"seq", lit(30))) * 3600000000L))
        .otherwise($"ts"))
      .withColumn("batch", expr("seq div 1000"))
    val wm = changes.groupBy($"batch").agg(max($"ts").as("bmax"))
      .withColumn("wm_prev", max($"bmax").over(
        Window.orderBy($"batch").rowsBetween(Window.unboundedPreceding, -1)))
      .select($"batch", $"wm_prev")
    val tagged = changes.join(broadcast(wm), "batch")
    def late(secs: Long) = count(when($"wm_prev".isNotNull &&
      unix_micros($"ts") + secs * 1000000L < unix_micros($"wm_prev"), 1))
    tagged
      .agg(count(lit(1)).as("n_changes"), late(3600L).as("late_01h"),
        late(21600L).as("late_06h"), late(86400L).as("late_24h"))
      .select($"n_changes", expr(
        "stack(3, 'wm_01h', late_01h, 'wm_06h', late_06h, 'wm_24h', late_24h)" +
          " as (delay, n_late)"))
      .select($"delay", $"n_changes", $"n_late",
        // DECIMAL(38) widen: n_late ×1e6 has only ~9× headroom under
        // 2^63 at a 10^12-change feed — same overflow class as the
        // revenue/token ppm sites, widened uniformly. NULL on an
        // EMPTY feed (n_changes 0): DuckDB's `// 0` is NULL while
        // Spark's ANSI `div 0` aborts — the guard pins the shared
        // semantics (r11 empty-input sweep)
        expr("""if(n_changes = 0, cast(null as bigint),
                cast(n_late as decimal(38,0)) * 1000000 div n_changes)""")
          .as("late_ppm"))
      .orderBy($"delay")
  }

  // --------------------------------------------------------------- A35
  /** WAL-continuity audit — "did the slot lose records?": the check a
    * consumer runs over its received LSN stream after a slot rebuild
    * or retention event (the failure mode A30's bootstrap exists to
    * recover from, detected instead of assumed). The feed is
    * deterministically damaged: every 997th seq is dropped (lost
    * packets), one 50-seq run at 23% of the range is dropped (a lost
    * segment chunk), and every 501st surviving seq arrives twice
    * (relay re-delivery). The audit reconstructs exactly that damage:
    * `gap` rows (lo..hi, n missing) and `dup` rows (seq, n extra).
    *
    * 100 TB: NO global-order window. In-segment gaps ride a lag
    * window PARTITIONED by WAL segment (seq div 1000 — bounded
    * partitions); cross-segment gaps (including whole lost segments)
    * come from the per-segment min/max rollup — a segment-count
    * table (bounded metadata, the A33 batch pattern) whose own lag
    * window is over thousands of rows, not the feed. Dup counts are
    * one map-side-combinable seq rollup. */
  def gapAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seqs = ChangeFeed.fromEvents(s, dir).select($"seq")
    val mx = seqs.agg(floor(max($"seq") * 0.23).cast("long").as("hole_lo"))
    val survived = seqs.crossJoin(broadcast(mx))
      .filter(!($"seq" % 997 === 0 ||
        ($"seq" >= $"hole_lo" && $"seq" < $"hole_lo" + 50)))
      .select($"seq")
    val received = survived
      .unionAll(survived.filter($"seq" % 501 === 0))
    val dups = received.groupBy($"seq").agg(count(lit(1)).as("c"))
      .filter($"c" > 1)
      .select(lit("dup").as("kind"), $"seq".as("lo"), $"seq".as("hi"),
        ($"c" - 1).as("n"))
    val rs = received.distinct().withColumn("seg", expr("seq div 1000"))
    val inSeg = rs
      .withColumn("prev", lag($"seq", 1).over(
        Window.partitionBy($"seg").orderBy($"seq")))
      .filter($"prev".isNotNull && $"seq" - $"prev" > 1)
      .select(lit("gap").as("kind"), ($"prev" + 1).as("lo"),
        ($"seq" - 1).as("hi"), ($"seq" - $"prev" - 1).as("n"))
    val segs = rs.groupBy($"seg")
      .agg(min($"seq").as("mn"), max($"seq").as("mxs"))
    val between = segs
      .withColumn("prev_max", lag($"mxs", 1).over(Window.orderBy($"seg")))
      .filter($"prev_max".isNotNull && $"mn" - $"prev_max" > 1)
      .select(lit("gap").as("kind"), ($"prev_max" + 1).as("lo"),
        ($"mn" - 1).as("hi"), ($"mn" - $"prev_max" - 1).as("n"))
    dups.unionByName(inSeg).unionByName(between)
      .orderBy($"kind", $"lo")
  }
  val gapAuditSql: String =
    s"""WITH $changesSql,
       |m AS (SELECT CAST(floor(max(seq) * 0.23) AS BIGINT) AS hole_lo
       |      FROM changes),
       |sv AS (SELECT seq FROM changes CROSS JOIN m
       |  WHERE NOT (seq % 997 = 0
       |    OR (seq >= hole_lo AND seq < hole_lo + 50))),
       |rc AS (SELECT seq FROM sv
       |  UNION ALL SELECT seq FROM sv WHERE seq % 501 = 0),
       |dups AS (SELECT 'dup' AS kind, seq AS lo, seq AS hi,
       |    count(*) - 1 AS n
       |  FROM rc GROUP BY seq HAVING count(*) > 1),
       |rs AS (SELECT DISTINCT seq, seq // 1000 AS seg FROM rc),
       |iseg AS (SELECT 'gap' AS kind, prev + 1 AS lo, seq - 1 AS hi,
       |    seq - prev - 1 AS n
       |  FROM (SELECT seq, seg, lag(seq) OVER (PARTITION BY seg
       |      ORDER BY seq) AS prev FROM rs)
       |  WHERE prev IS NOT NULL AND seq - prev > 1),
       |segs AS (SELECT seg, min(seq) AS mn, max(seq) AS mxs
       |  FROM rs GROUP BY 1),
       |btw AS (SELECT 'gap' AS kind, prev_max + 1 AS lo, mn - 1 AS hi,
       |    mn - prev_max - 1 AS n
       |  FROM (SELECT seg, mn, mxs, lag(mxs) OVER (ORDER BY seg)
       |      AS prev_max FROM segs)
       |  WHERE prev_max IS NOT NULL AND mn - prev_max > 1)
       |SELECT kind, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       |  CAST(n AS BIGINT) AS n
       |FROM (SELECT * FROM dups UNION ALL SELECT * FROM iseg
       |  UNION ALL SELECT * FROM btw)
       |ORDER BY kind, lo""".stripMargin

  // --------------------------------------------------------------- A36
  /** Replica-failover merge — the slot-handoff contract: the primary
    * died after serving changes through LSN X (the 60% ack), the
    * standby's slot was created earlier and serves from Y = 40% < X
    * (overlap window), and the standby ALSO re-delivers every 73rd
    * change in its range (replicas are at-least-once). The consumer
    * unions both streams, dedups by LSN (delivery idempotence — the
    * same law C39 gets from its digest anti-join), and materializes.
    * The oracle is the STRAIGHT full-feed materialization, so any
    * change lost or double-applied across the handoff hash-fails;
    * `served_by` records which replica was authoritative per key.
    *
    * 100 TB: the union is scan-level (no shuffle); LSN dedup and the
    * latest() fold share ONE key-ish shuffle each (seq, then key),
    * both map-side combinable; the cut scalars broadcast. */
  def failoverMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val changes = ChangeFeed.fromEvents(s, dir)
    val cuts = changes.agg(
      floor(max($"seq") * 0.6).cast("long").as("x"),
      floor(max($"seq") * 0.4).cast("long").as("y"))
    val tagged = changes.crossJoin(broadcast(cuts))
    val primary = tagged.filter($"seq" <= $"x")
    val standby = tagged.filter($"seq" >= $"y")
    val merged = primary
      .unionByName(standby)
      .unionByName(standby.filter($"seq" % 73 === 0))
      .dropDuplicates("seq")
    merged
      .withColumn("rn", row_number().over(
        Window.partitionBy($"key").orderBy($"seq".desc)))
      .filter($"rn" === 1 && $"op" =!= "d")
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        when($"seq" > $"x", "standby").otherwise("primary").as("served_by"))
      .orderBy($"user_id")
  }
  val failoverMergeSql: String =
    s"""WITH $changesSql,
       |b AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS x
       |      FROM changes),
       |r AS (SELECT *, row_number() OVER (PARTITION BY key
       |        ORDER BY seq DESC) AS rn
       |      FROM changes)
       |SELECT key AS user_id, event_type AS last_event_type,
       |  value AS last_value, seq AS last_seq,
       |  CASE WHEN seq > (SELECT x FROM b) THEN 'standby'
       |       ELSE 'primary' END AS served_by
       |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- A20
  /** Outbox-pattern consumption (the downstream-use pattern in the
    * reference's presentation): the relay delivers outbox messages
    * at-least-once — every 7th message arrives twice here — and the
    * consumer gets exactly-once semantics by folding deliveries by
    * message_id. One hash shuffle on the group key; copies collapse
    * map-side (partial agg), so duplicate deliveries never cross the
    * wire twice. */
  def outboxConsume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val outbox = ChangeFeed.fromEvents(s, dir)
      .select($"seq".as("message_id"), $"key".as("aggregate_id"),
        $"event_type", $"value")
    val delivered = outbox.unionByName(outbox.filter($"message_id" % 7 === 0))
    delivered
      .groupBy($"message_id", $"aggregate_id", $"event_type", $"value")
      .agg(count(lit(1)).as("n_deliveries"))
      .orderBy($"message_id")
  }

  // --------------------------------------------------------------- A21
  /** Typed per-OID column decode parity (the reference's
    * Column.Decoder switch, main.go:475–565): a mixed-type wal2json
    * row is text-encoded exactly as PG emits each type — bool 't'/'f',
    * bytea \x-hex, scientific floats, uuid, tid '(block,row)', json,
    * and 1-D array literals with full quoting — then
    * [[graft.sources.ChangeEventFiles.pgTyped]] decodes every cell by
    * its declared type name. The oracle derives the same typed values
    * independently from the base columns, so an encode bug and a
    * decode bug can't cancel out. All decode work is narrow per-row
    * expressions in the scan stage; no shuffle. */
  def typedDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ChangeEventFiles.pgTyped
    PgOutputExpressions.register(s)
    val base = graft.Tables.events(s, dir)
      .withColumn("cents", floor($"value" * 100 + 0.5).cast("long"))
    val cells = base.select($"event_id", struct(
        when($"event_id" % 2 === 0, "t").otherwise("f").as("c_bool"),
        ($"event_id" % 100).cast("string").as("c_int2"),
        ($"event_id" % 100000).cast("string").as("c_int4"),
        $"event_id".cast("string").as("c_int8"),
        ($"event_id" + 3000000000L).cast("string").as("c_oid"), // > int32
        concat($"cents".cast("string"), lit("e-2")).as("c_float4"),
        concat($"cents".cast("string"), lit("e-2")).as("c_float8"),
        // sign-aware build: integer ops on |cents| so negative values
        // don't mix truncating DIV with the oracle's flooring `//`
        concat(when($"cents" < 0, "-").otherwise(""),
          expr("abs(cents) DIV 100").cast("string"), lit("."),
          lpad((abs($"cents") % 100).cast("string"), 2, "0")).as("c_numeric"),
        date_format($"ts", "yyyy-MM-dd").as("c_date"),
        date_format($"ts", tsFmt).as("c_ts"),
        concat(date_format($"ts", tsFmt), lit("+00")).as("c_tstz"),
        concat(lpad(hex($"event_id"), 8, "0"), lit("-0000-4000-8000-"),
          lpad(hex($"user_id"), 12, "0")).as("c_uuid"),
        concat(lit("\\x"), lower(hex($"event_type"))).as("c_bytea"),
        $"props".as("c_json"),
        concat(lit("("), ($"event_id" % 1000).cast("string"), lit(","),
          ($"event_id" % 50).cast("string"), lit(")")).as("c_tid"),
        concat(lit("{"), $"user_id".cast("string"), lit(","),
          ($"event_id" % 7).cast("string"), lit(",NULL}")).as("c_int_arr"),
        concat(lit("{\""), $"event_type",
          lit("\",\"a,b\",NULL,\"c\\\"d\",\"e\\\\f\"}")).as("c_text_arr")
      ).as("m"))
    def c(name: String, t: String) = pgTyped($"m"(name), t)
    cells.select($"event_id",
        c("c_bool", "boolean").as("b"),
        c("c_int2", "smallint").as("i2"),
        c("c_int4", "integer").as("i4"),
        c("c_int8", "bigint").as("i8"),
        c("c_oid", "oid").as("oid"),
        c("c_float4", "real").as("f4"),
        c("c_float8", "double precision").as("f8"),
        c("c_numeric", "numeric").cast("double").as("num"),
        c("c_date", "date").as("d"),
        date_format(c("c_ts", "timestamp"), tsFmt).as("ts_s"),
        date_format(c("c_tstz", "timestamptz"), tsFmt).as("tstz_s"),
        c("c_uuid", "uuid").as("uid"),
        length(c("c_bytea", "bytea")).as("b_len"),
        lower(hex(c("c_bytea", "bytea"))).as("b_hex"),
        variant_get(c("c_json", "json"), "$.k", "bigint").as("k_val"),
        c("c_tid", "tid").getField("block").as("tid_block"),
        c("c_tid", "tid").getField("offset").as("tid_off"),
        size(c("c_int_arr", "bigint[]")).as("ia_n"),
        aggregate(filter(c("c_int_arr", "bigint[]"), x => x.isNotNull),
          lit(0L), (acc, x) => acc + x).as("ia_sum"),
        size(c("c_text_arr", "text[]")).as("ta_n"),
        element_at(c("c_text_arr", "text[]"), 2).as("ta_e2"),
        element_at(c("c_text_arr", "text[]"), 4).as("ta_e4"),
        element_at(c("c_text_arr", "text[]"), 5).as("ta_e5"))
      .orderBy($"event_id")
  }

  // --------------------------------------------------------------- A22
  /** File-backed replication source of BINARY pgoutput messages — the
    * sandbox analogue of the reference's replication socket (main.go:
    * 18–60 creates the slot; :101–135 consumes XLogData messages).
    * Stage 1 writes the feed as length-prefix-framed binary segment
    * files — framing stands in for XLogData's one-message envelope —
    * from the EXECUTORS (mapPartitions, one segment per WAL chunk; on
    * a cluster the same code targets a DFS path). Stage 2 is the
    * consumer under test: the `format("pgoutput")` DataSource V2
    * reader ([[graft.sources.v2.PgOutputFileSource]]) streams the
    * segments and recovers one row per wire message (frame splitting
    * is source logic now, as in the reference's client loop),
    * `pg_decode` runs in the scan stage, and the streaming upsert
    * operator materializes latest-state. Unlike A1/A7 the bytes on
    * disk ARE the wire format — the source, codec, and state machine
    * are exercised end-to-end. */
  def replicationSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segDir = writeWireSegments(s, dir)
    val decoded = s.readStream.format("pgoutput").load(segDir)
      .select(org.apache.spark.sql.functions.col("msg"))
    latestStateFromWire(s, decoded)
  }

  /** A22 stage 1, factored (r13) so the loopback-TCP transport spec can
    * replay the SAME segment bytes over a socket: encodes the change
    * feed as length-prefix-framed binary pgoutput segment files from
    * the executors and returns the segment dir. */
  private[graft] def writeWireSegments(s: SparkSession, dir: String): String = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val changes = ChangeFeed.fromEvents(s, dir)
    val wire = changes.select($"seq", struct(
        when($"op" === "i", "I").when($"op" === "d", "D").otherwise("U").as("op"),
        lit(1).as("relation_id"),
        array($"key".cast("string"), $"seq".cast("string")).as("key_cells"),
        when($"op" =!= "d",
          array($"key".cast("string"), $"event_type", $"value".cast("string"),
            expr("unix_micros(ts)").cast("string"), $"seq".cast("string")))
          .as("cells")).as("m"))
      .select($"seq", expr("pg_encode(m)").as("raw"))
    val segDir = graft.Scratch.dir("graft_replsrc").toString
    // one segment per core: encode, write, and (binaryFile reads one
    // split per file) decode all run at full parallelism — a WAL is
    // many segments anyway
    val nSeg = s.sparkContext.defaultParallelism
    wire.repartitionByRange(nSeg, $"seq").sortWithinPartitions($"seq")
      .select($"raw").as[Array[Byte]]
      .mapPartitions { msgs =>
        val bos = new java.io.ByteArrayOutputStream()
        var n = 0
        msgs.foreach { m =>
          bos.write((m.length >>> 24) & 0xff); bos.write((m.length >>> 16) & 0xff)
          bos.write((m.length >>> 8) & 0xff); bos.write(m.length & 0xff)
          bos.write(m); n += 1
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(segDir,
          f"seg_${org.apache.spark.TaskContext.getPartitionId()}%05d.bin"),
          bos.toByteArray)
        Iterator.single(n)
      }.collect().sum // not .reduce: an EMPTY feed has zero partitions and
      // Dataset.reduce throws "empty collection" (r11 empty-input sweep)
    segDir
  }

  /** A22 stage 2, factored (r13): decode a stream of binary pgoutput
    * messages (column `msg`) and materialize latest-state — shared
    * verbatim by the file transport (A22's registered query) and the
    * loopback-TCP transport (PgWireTcpSpec), which is the point: the
    * decode path and state machine cannot diverge between transports. */
  private[graft] def latestStateFromWire(s: SparkSession, msgs: DataFrame): DataFrame = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val decoded = msgs
      .select(expr("pg_decode(msg)").as("d"))
      .select(
        // inserts carry no key tuple on the wire (pgoutput semantics)
        when($"d.op" === "D", element_at($"d.key_cells", 1))
          .otherwise(element_at($"d.cells", 1)).cast("long").as("key"),
        when($"d.op" === "D", element_at($"d.key_cells", 2))
          .otherwise(element_at($"d.cells", 5)).cast("long").as("seq"),
        when($"d.op" === "I", "i").when($"d.op" === "D", "d")
          .otherwise("u").as("op"),
        coalesce(element_at($"d.cells", 2), lit("")).as("event_type"),
        // a NULL column value survives the wire ('n' cell) round trip —
        // ChangeRecord.value is Option, no 0.0 default
        element_at($"d.cells", 3).cast("double").as("value"),
        coalesce(element_at($"d.cells", 4).cast("long"), lit(0L)).as("tsMicros"))
      .as[ChangeRecord]
    CdcStream.runLatestStateBounded(s, decoded)
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A23
  /** Streaming wal2json FILE source end-to-end: executors write the
    * feed as JSON-lines wal2json documents (`to_json` + `write.text` —
    * the on-disk twin of a wal2json Kafka topic), then the consumer
    * under test readStreams them through
    * [[graft.sources.ChangeEventFiles.wal2jsonStream]], projects typed
    * cells per the DECLARED column types (pgTyped), and materializes
    * latest-state with the streaming upsert operator. Complements A22:
    * same state contract, JSON wire instead of binary pgoutput. */
  def wal2jsonStreamSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ChangeEventFiles
    val changes = ChangeFeed.fromEvents(s, dir)
    val doc = changes.select(to_json(struct(array(struct(
        when($"op" === "i", "insert").when($"op" === "d", "delete")
          .otherwise("update").as("kind"),
        lit("public").as("schema"), lit("users").as("table"),
        when($"op" =!= "d", array(lit("user_id"), lit("event_type"),
          lit("value"), lit("ts_us"), lit("event_id"))).as("columnnames"),
        when($"op" =!= "d", array(lit("bigint"), lit("text"),
          lit("double precision"), lit("bigint"), lit("bigint"))).as("columntypes"),
        when($"op" =!= "d", array($"key".cast("string"), $"event_type",
          $"value".cast("string"), expr("unix_micros(ts)").cast("string"),
          $"seq".cast("string"))).as("columnvalues"),
        when($"op" === "d", struct(
          array(lit("user_id"), lit("event_id")).as("keynames"),
          array(lit("bigint"), lit("bigint")).as("keytypes"),
          array($"key".cast("string"), $"seq".cast("string")).as("keyvalues")))
          .as("oldkeys"))).as("change"))).as("doc"))
    val segDir = graft.Scratch.dir("graft_w2js").toString
    // one JSON-lines file per core: the file source assigns one split
    // per small text file, so file count caps parse parallelism
    doc.repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite").text(segDir)
    val flat = ChangeEventFiles.wal2jsonStream(s, segDir)
    val decoded = flat.select(
        coalesce(ChangeEventFiles.typedCell($"after", "user_id", "bigint"),
          $"old_keys"("user_id").cast("long")).as("key"),
        coalesce(ChangeEventFiles.typedCell($"after", "event_id", "bigint"),
          $"old_keys"("event_id").cast("long")).as("seq"),
        when($"kind" === "insert", "i").when($"kind" === "delete", "d")
          .otherwise("u").as("op"),
        coalesce($"after"("event_type"), lit("")).as("event_type"),
        // NULL column value survives the JSON round trip (Option field)
        ChangeEventFiles.typedCell($"after", "value", "double precision")
          .as("value"),
        coalesce(ChangeEventFiles.typedCell($"after", "ts_us", "bigint"),
          lit(0L)).as("tsMicros"))
      .as[ChangeRecord]
    CdcStream.runLatestStateBounded(s, decoded)
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A24
  /** Streaming AS-OF join ([[CdcStream.streamAsOf]]): purchases pick
    * up the user's latest prior non-purchase state row, computed in a
    * stream with per-user buffered state + event-time timeout instead
    * of the batch merge-scan — must equal the A14 custom-operator
    * result (same oracle). */
  def streamAsofQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CdcStream.runPunctuatedAppend(s, dir) { raw =>
      CdcStream.streamAsOf(
        // Streaming as-of contract: rows need a user (the state key)
        // and an event time (the merge order) to participate — the
        // typed Long-keyed state cannot represent a null user, and a
        // null event time has no as-of position. The BATCH twin keeps
        // null-user probes (LEFT semantics over null-never-equals), so
        // the two share the join logic but carry separate oracles.
        // Null event_type is excluded on BOTH sides already (batch's
        // `=== / =!= 'purchase'` filters null-reject) — made explicit
        // here because a null etype inside state would otherwise
        // serialize as Some(null).
        raw.filter($"user_id".isNotNull && $"ts".isNotNull &&
            $"event_id".isNotNull && $"event_type".isNotNull)
          .select($"user_id", $"event_id".as("id"), $"ts",
            unix_micros($"ts").as("tsUs"),
            $"event_type".as("etype"), $"value")
          .withWatermark("ts", "1 hour")
          .as[CdcStream.AsOfEvent]).toDF()
    }
      .filter($"p_user" >= 0)
      .select($"p_id", $"p_user", $"s_id", $"s_type", $"s_value")
      .orderBy($"p_id")
  }

  // --------------------------------------------------------------- A25
  /** Streaming Debezium FILE source end-to-end: executors write the
    * feed as JSON-lines Debezium envelopes (op/before/after/ts_ms/
    * source — the topic-on-disk shape), the consumer readStreams them
    * through [[graft.sources.ChangeEventFiles.debeziumStream]] with a
    * TYPED row schema (ts carried as epoch micros) and materializes
    * latest-state. Completes the wire trio: binary pgoutput (A22),
    * wal2json (A23), Debezium (A25) — all held to the same state
    * contract. */
  def debeziumStreamSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ChangeEventFiles
    val changes = ChangeFeed.fromEvents(s, dir)
    val rowType = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts_us", LongType),
      StructField("event_id", LongType)))
    val row = struct($"key".as("user_id"), $"event_type", $"value",
      expr("unix_micros(ts)").as("ts_us"), $"seq".as("event_id"))
    val doc = changes.select(to_json(struct(
      when($"op" === "i", "c").when($"op" === "d", "d").otherwise("u").as("op"),
      expr("unix_micros(ts) div 1000").as("ts_ms"),
      when($"op" === "d", row).as("before"),
      when($"op" =!= "d", row).as("after"),
      struct(lit("users").as("table"), $"seq".as("lsn")).as("source"))).as("doc"))
    val segDir = graft.Scratch.dir("graft_dbzs").toString
    doc.coalesce(4).write.mode("overwrite").text(segDir)
    val decoded = ChangeEventFiles.debeziumStream(s, segDir, rowType)
      .select(
        coalesce($"after.user_id", $"before.user_id").as("key"),
        $"source.lsn".as("seq"),
        when($"op" === "c", "i").when($"op" === "d", "d")
          .otherwise("u").as("op"),
        coalesce($"after.event_type", lit("")).as("event_type"),
        // value is COLUMN data: NULL must survive the envelope round
        // trip (ChangeRecord.value is Option), not default to 0.0
        $"after.value".as("value"),
        coalesce($"after.ts_us", lit(0L)).as("tsMicros"))
      .as[ChangeRecord]
    CdcStream.runLatestStateBounded(s, decoded)
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A34
  /** Kafka-shaped TOPIC transport end-to-end — the last transport
    * BASELINE.json names that A22/A23/A25 didn't model: the producer
    * writes the change feed as a 4-partition offset log
    * ([[graft.sources.v2.KafkaLogSource]] layout: `p=N/` dirs of
    * `<baseOffset>-<count>.jsonl` segments, partition = key mod 4 —
    * the KEYED partitioner, so each user's changes live in ONE
    * partition in seq order, Kafka's per-key ordering contract), and
    * the consumer under test readStreams `format("kafkalog")` —
    * per-partition parallel splits, monotone (partition → offset)
    * resume map — parses the JSON value, and materializes streaming
    * latest-state. Same state contract as the wire trio; what's new
    * is the transport: partitioned parallel reads + per-partition
    * ordered offsets (the consumer-group position model).
    *
    * Records roll into a new segment every 1000 records, so every
    * test SF exercises multi-segment partitions AND the by-name
    * segment seek. Executors write segments (one writer per topic
    * partition — the broker's per-partition append). */
  def kafkaStreamSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val NPart = 4
    val SegRecords = 1000
    val changes = ChangeFeed.fromEvents(s, dir)
    val topicDir = graft.Scratch.dir("graft_kafka").toString
    (0 until NPart).foreach(p => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(topicDir, s"p=$p")))
    val keyed = changes.select(
        pmod($"key", lit(NPart.toLong)).cast("int").as("part"),
        $"key".cast("string").as("k"),
        to_json(struct($"key", $"seq", $"op", $"event_type", $"value",
          expr("unix_micros(ts)").as("ts_us"))).as("v"),
        $"seq")
      .withColumn("off", row_number().over(
        Window.partitionBy($"part").orderBy($"seq")).cast("long") - 1)
    keyed.repartition(NPart, $"part")
      .sortWithinPartitions($"part", $"off")
      .select($"part", $"off", $"k", $"v")
      .as[(Int, Long, String, String)]
      .mapPartitions { rows =>
        // broker-side append: roll a segment every SegRecords records,
        // named <baseOffset>-<count>.jsonl so the driver can compute
        // log-end offsets from the listing alone
        var written = 0
        var curPart = -1
        var base = 0L
        var buf = new StringBuilder
        var cnt = 0
        def flush(): Unit = if (cnt > 0) {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(topicDir, s"p=$curPart",
              f"$base%020d-$cnt.jsonl"),
            buf.toString.getBytes("UTF-8"))
          written += cnt; buf = new StringBuilder; cnt = 0
        }
        rows.foreach { case (part, off, k, v) =>
          if (part != curPart || cnt >= SegRecords) {
            flush(); curPart = part; base = off
          }
          buf.append(k).append('\t').append(v).append('\n'); cnt += 1
        }
        flush()
        Iterator.single(written)
      }.collect().sum // not .reduce: an EMPTY feed has zero partitions and
      // Dataset.reduce throws "empty collection" (r11 empty-input sweep)
    val vSchema = StructType(Seq(
      StructField("key", LongType), StructField("seq", LongType),
      StructField("op", StringType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts_us", LongType)))
    val decoded = s.readStream.format("kafkalog").load(topicDir)
      .select(from_json($"value", vSchema).as("r"))
      .select($"r.key".as("key"), $"r.seq".as("seq"), $"r.op".as("op"),
        $"r.event_type".as("event_type"), $"r.value".as("value"),
        $"r.ts_us".as("tsMicros"))
      .as[ChangeRecord]
    CdcStream.runLatestStateBounded(s, decoded)
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A26
  /** Time travel over the MVCC upsert sink: the feed streams through
    * [[graft.sinks.MaterializedTable.upsertSink]] in two micro-batches
    * (split at the median LSN), producing immutable snapshots v0 and
    * v1 with an atomic pointer flip. The query then reads BOTH — the
    * current state via the pointer, the v0 state via its version
    * handle — and reports each live key's current row next to its
    * as-of-v0 row (null if the key didn't exist yet). This is the
    * reader's side of snapshot isolation: a v0 reader is undisturbed
    * by the v1 write. The feed-split scalar is bounded-harness prep;
    * the operator itself (snapshot write/read/join) is driver-free,
    * one key shuffle per side. */
  /** Split the batch change feed into two seq-halves written as two
    * parquet files under one scratch dir — a deterministic 2-micro-batch
    * stream when read with maxFilesPerTrigger=1 (shared by A26/A27). */
  private def twoBatchChangeStream(s: SparkSession, dir: String,
      tag: String): Dataset[ChangeRecord] = {
    import s.implicits._
    val changes = ChangeFeed.fromEvents(s, dir)
      .select($"key", $"seq", $"op", $"event_type", $"value",
        expr("unix_micros(ts)").as("tsMicros"))
    // Option decode: max() on an EMPTY feed is NULL and the bare Long
    // decode crashed (r11 empty-input sweep); cut 0 -> two empty halves
    // -> two empty batches -> empty table, the defined semantics
    val cut = changes.agg(floor(max($"seq") / 2).cast("long"))
      .as[Option[Long]].head().getOrElse(0L)
    val inDir = graft.Scratch.dir(s"graft_${tag}_in")
    // ONE write job for both halves (r16 — the r14 neardup staging
    // shave ported): repartition by the half tag, partitionBy lands
    // each half in its own dir, moves rename into arrival order. An
    // empty half (empty feed) writes no partition dir — stage an
    // empty single-file parquet so the stream still sees two files.
    locally {
      val tmp = graft.Scratch.dir(s"graft_${tag}_stage")
      // null-seq rows are dropped EXPLICITLY (r16 ADVICE): the pre-r16
      // per-half range filters (seq <= cut / seq > cut) silently dropped
      // them from both halves, while the when-chain's otherwise() would
      // route them into the last batch — a silent semantic change on a
      // feed that ever carries null seqs (well-formed feeds never do:
      // seq is framing-mandatory per the ChangeRecord contract).
      // sortWithinPartitions($"b", $"seq") keeps within-file row order
      // deterministic (file order would otherwise be shuffle-fetch
      // order; latestWithTombstones breaks ties by seq only, so a
      // duplicate (key, seq) in a feed would resolve
      // nondeterministically). Leading with the partition column meets
      // the writer's required ordering, so it adds no sort of its own.
      changes.filter($"seq".isNotNull)
        .withColumn("b", when($"seq" <= cut, "00").otherwise("01"))
        .repartition($"b")
        .sortWithinPartitions($"b", $"seq")
        .write.mode("overwrite").partitionBy("b").parquet(tmp.toString)
      Seq("00", "01").zipWithIndex.foreach { case (name, i) =>
        val dst = inDir.resolve(s"$name.parquet")
        val srcDir = tmp.resolve(s"b=$name")
        if (java.nio.file.Files.isDirectory(srcDir))
          java.nio.file.Files.move(graft.Scratch.onlyParquet(srcDir), dst)
        else {
          val e = graft.Scratch.dir(s"graft_${tag}_empty_$name")
          changes.limit(0).coalesce(1).write.mode("overwrite")
            .parquet(e.toString)
          java.nio.file.Files.move(graft.Scratch.firstParquet(e), dst)
        }
        // both halves leave ONE write job with tied mtimes, and batch
        // ORDER is the whole point of the 2-batch stream (v0 = first
        // half) — pin strictly increasing mtimes (the ingest/neardup
        // convention) so FileStreamSource can't tie-reorder
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
      }
    }
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("seq", LongType),
      StructField("op", StringType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("tsMicros", LongType)))
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      .as[ChangeRecord]
  }

  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = twoBatchChangeStream(s, dir, "tt")
    val table = graft.Scratch.dir("graft_tt_tbl").toString
    val ckpt = graft.Scratch.dir("graft_tt_ck").toString
    CdcStream.withStatePartitions(s) {
      val q = graft.sinks.MaterializedTable.upsertSink(stream, table, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val vs = graft.sinks.MaterializedTable.versions(s, table)
    val v0 = graft.sinks.MaterializedTable.readVersion(s, table, vs.head)
      .filter($"op" =!= "d")
    val cur = graft.sinks.MaterializedTable.readLatest(s, table)
    cur.as("c").join(v0.as("o"), $"c.key" === $"o.key", "left")
      .select($"c.key".as("user_id"), $"c.event_type".as("cur_event_type"),
        $"c.value".as("cur_value"), $"c.seq".as("cur_seq"),
        $"o.event_type".as("old_event_type"), $"o.value".as("old_value"),
        $"o.seq".as("old_seq"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- A29
  /** Multi-relation routing — the reference's RelationSet core: ONE
    * wire stream interleaves changes for several tables (relation_id
    * tags each message, reference main.go RelationSet registry); the
    * consumer decodes once and fans out per relation, materializing
    * each table under its own key semantics. Here the feed is encoded
    * with relation 1 ("users": latest state per user key) and
    * relation 2 ("audit": latest state per event key) by seq parity,
    * round-tripped through the real binary codec, then routed and
    * materialized per table in one plan (single decode pass, groupBy
    * (table, key) — routing adds no extra scan or shuffle).
    * 100 TB: one shuffle keyed (relation, key); per-table writers
    * would just partitionBy the routing column. */
  def tableRouting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PgOutputExpressions.register(s)
    val changes = ChangeFeed.fromEvents(s, dir)
    val wire = changes.select(struct(
        when($"op" === "i", "I").when($"op" === "d", "D").otherwise("U").as("op"),
        (lit(1) + ($"seq" % 2).cast("int")).as("relation_id"),
        array($"key".cast("string"), $"seq".cast("string")).as("key_cells"),
        when($"op" =!= "d",
          array($"key".cast("string"), $"event_type", $"value".cast("string"),
            $"seq".cast("string"))).as("cells")).as("m"))
      .select(expr("pg_encode(m)").as("raw"))
    val decoded = wire.select(expr("pg_decode(raw)").as("d"))
      .select($"d.relation_id".as("rid"),
        when($"d.op" === "D", element_at($"d.key_cells", 1))
          .otherwise(element_at($"d.cells", 1)).cast("long").as("key"),
        when($"d.op" === "D", element_at($"d.key_cells", 2))
          .otherwise(element_at($"d.cells", 4)).cast("long").as("seq"),
        $"d.op".as("op"),
        element_at($"d.cells", 2).as("event_type"),
        element_at($"d.cells", 3).cast("double").as("value"))
    // route: relation 1 keys by user (SCD1 upsert), relation 2 keys by
    // the event itself (append-like audit: every seq is its own key)
    val routed = decoded.select(
      when($"rid" === 1, "users").otherwise("audit").as("tbl"),
      when($"rid" === 1, $"key").otherwise($"seq").as("route_key"),
      $"seq",
      // wire ops are uppercase I/U/D; normalize back to feed form
      when($"op" === "I", "i").when($"op" === "D", "d")
        .otherwise("u").as("op"),
      $"event_type", $"value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"tbl", $"route_key").orderBy($"seq".desc)
    routed.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1 && $"op" =!= "d")
      .select($"tbl", $"route_key", $"seq".as("last_seq"),
        $"event_type".as("last_event_type"),
        (floor($"value" * 100 + 0.5) / 100).as("last_value"))
      .orderBy($"tbl", $"route_key")
  }

  // --------------------------------------------------------------- A28
  /** Incremental view maintenance from change deltas — the canonical
    * "turn the database inside out" downstream: a per-group aggregate
    * view (live-row count + value total per event_type) is maintained
    * purely from ±delta contributions, never by re-scanning the base
    * table. Each change contributes "remove the previous live version,
    * add the new live version" (the delta-query formulation of IVM à
    * la DBToaster/Materialize); before-images are reconstructed with a
    * per-key lag window (what Debezium's REPLICA IDENTITY FULL would
    * carry on the wire). Per key the deltas telescope, so folding the
    * whole feed from an empty base MUST equal recomputing the view
    * from the materialized latest state — which is exactly the oracle.
    *
    * Values fold as exact cents; groups whose live count reaches zero
    * are dropped (they don't exist in the recomputed view).
    *
    * 100 TB: one key-window shuffle + one group aggregation, both
    * map-side-combined; in production the same fold merges a day's
    * deltas into yesterday's base (associative + commutative by
    * construction), so view refresh cost tracks change volume. */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"seq")
    val withPrev = ChangeFeed.fromEvents(s, dir)
      .select($"key", $"seq", $"op", $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .select($"key", $"op", $"event_type", $"cents",
        lag($"op", 1).over(w).as("p_op"),
        lag($"event_type", 1).over(w).as("p_type"),
        lag($"cents", 1).over(w).as("p_cents"))
    val deltas = withPrev.select(explode(array(
        struct(
          when($"p_op".isNotNull && $"p_op" =!= "d", lit(-1L))
            .otherwise(lit(0L)).as("dn"),
          $"p_type".as("g"), (-$"p_cents").as("dc")),
        struct(
          when($"op" =!= "d", lit(1L)).otherwise(lit(0L)).as("dn"),
          $"event_type".as("g"), $"cents".as("dc")))).as("d"))
      .select($"d.dn", $"d.g", $"d.dc")
      .filter($"dn" =!= 0)
    deltas.groupBy($"g".as("event_type"))
      .agg(sum($"dn").as("n_live"), sum($"dc").as("cents_total"))
      .filter($"n_live" > 0)
      .orderBy($"event_type")
  }

  // --------------------------------------------------------------- A27
  /** Incremental partitioned materialization + compaction over the
    * bucket-partitioned MVCC sink ([[graft.sinks.PartitionedTable]]):
    * the 2-batch change stream upserts into 64 hash buckets (each batch
    * rewrites only the buckets its keys touch; untouched buckets carry
    * forward by manifest reference), then `compact` drops delete
    * tombstones at or below the fully-acked seq horizon and merges each
    * bucket's files. The query returns the post-compaction state, which
    * must equal the plain latest-state window oracle — compaction is
    * semantics-neutral by construction. Incremental-rewrite and
    * tombstone-GC mechanics are asserted in PartitionedTableSpec. */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bucket count sizes to KEY volume (file-churn vs rewrite-granularity
    // trade: ~executor-sized buckets at scale); 16 at test SF
    val Buckets = 16
    val stream = twoBatchChangeStream(s, dir, "cpt")
    val table = graft.Scratch.dir("graft_cpt_tbl").toString
    val ckpt = graft.Scratch.dir("graft_cpt_ck").toString
    CdcStream.withStatePartitions(s) {
      val q = graft.sinks.PartitionedTable.upsertSink(stream, table, ckpt, Buckets)
      try q.processAllAvailable() finally q.stop()
    }
    val horizon = ChangeFeed.fromEvents(s, dir)
      .agg(max($"seq")).as[Option[Long]].head().getOrElse(0L)
    graft.sinks.PartitionedTable.compact(s, table, Buckets, horizon)
    graft.sinks.PartitionedTable.readLatest(s, table, Buckets)
      .select($"key".as("user_id"), $"event_type".as("last_event_type"),
        $"value".as("last_value"), $"seq".as("last_seq"),
        date_format(timestamp_micros($"tsMicros"), tsFmt).as("last_ts"))
      .orderBy($"user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_table_routing" -> (tableRouting _),
    "cdc_incremental_agg" -> (incrementalAgg _),
    "cdc_compaction" -> (compaction _),
    "cdc_time_travel" -> (timeTravel _),
    "cdc_debezium_stream" -> (debeziumStreamSource _),
    "cdc_stream_asof" -> (streamAsofQuery _),
    "cdc_wal2json_stream" -> (wal2jsonStreamSource _),
    "cdc_replication_source" -> (replicationSource _),
    "cdc_kafka_stream" -> (kafkaStreamSource _),
    "cdc_typed_decode" -> (typedDecode _),
    "cdc_resume_from_lsn" -> (resumeFromLsn _),
    "cdc_snapshot_bootstrap" -> (snapshotBootstrap _),
    "cdc_tx_atomic_apply" -> (txAtomicApply _),
    "cdc_lag_metrics" -> (lagMetrics _),
    "cdc_gap_audit" -> (gapAudit _),
    "cdc_failover_merge" -> (failoverMerge _),
    "cdc_late_arrival_audit" -> (lateArrivalAudit _),
    "cdc_outbox_consume" -> (outboxConsume _),
    "cdc_stream_sliding" -> (streamSliding _),
    "cdc_stream_enrich" -> (streamEnrich _),
    "cdc_decode_quarantine" -> (decodeQuarantine _),
    "cdc_truncate_apply" -> (truncateApply _),
    "cdc_asof_join" -> (asofJoin _),
    "cdc_stream_scd2" -> (streamScd2 _),
    "cdc_stream_sessions" -> (streamSessions _),
    "cdc_stream_join" -> (streamJoin _),
    "cdc_stream_dedup" -> (streamDedup _),
    "cdc_schema_evolution" -> (schemaEvolution _),
    "cdc_pgoutput_decode" -> (pgoutputDecode _),
    "cdc_wal2json_parse" -> (wal2jsonParse _),
    "cdc_debezium_parse" -> (debeziumParse _),
    "cdc_latest_state" -> (latestState _),
    "cdc_scd2_history" -> (scd2History _),
    "cdc_event_stats" -> (eventStats _),
    "cdc_stream_upserts" -> (streamUpserts _),
    "cdc_stream_windowed" -> (streamWindowed _))

  private val latestOracle: String =
    s"""WITH $changesSql,
       |r AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |      FROM changes)
       |SELECT key AS user_id, event_type AS last_event_type, value AS last_value,
       |  seq AS last_seq, strftime(ts, '$tsFmtDuck') AS last_ts
       |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin

  private val scd2Oracle: String =
    s"""WITH $changesSql,
       |v AS (SELECT key, seq, op, event_type, value, ts AS valid_from,
       |        lead(ts) OVER (PARTITION BY key ORDER BY seq) AS valid_to
       |      FROM changes)
       |SELECT key AS user_id, seq, event_type, value,
       |  strftime(valid_from, '$tsFmtDuck') AS valid_from,
       |  strftime(valid_to, '$tsFmtDuck') AS valid_to,
       |  valid_to IS NULL AS is_current
       |FROM v WHERE op <> 'd' ORDER BY user_id, seq""".stripMargin

  /** Shared by A14 (custom operator) and A24 (streaming): both must
    * produce the identical as-of result. */
  private val asofOracle: String =
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        |  s.s_id, s.s_type, s.s_value
        |FROM events p
        |LEFT JOIN LATERAL (
        |  SELECT e2.event_id AS s_id, e2.event_type AS s_type,
        |    e2.value AS s_value
        |  FROM events e2
        |  WHERE e2.user_id = p.user_id AND e2.event_type <> 'purchase'
        |    AND epoch_us(e2.ts) <= epoch_us(p.ts)
        |  ORDER BY epoch_us(e2.ts) DESC, e2.event_id DESC LIMIT 1) s ON true
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_id""".stripMargin

  /** [[asofOracle]] + the streaming contract's probe predicate
    * (null-user/null-ts probes exist only in the batch result). */
  private val asofStreamOracle: String = asofOracle.replace(
    "WHERE p.event_type = 'purchase'",
    "WHERE p.event_type = 'purchase' AND p.user_id IS NOT NULL" +
      " AND p.ts IS NOT NULL AND p.event_id IS NOT NULL")
  // a reworded asofOracle would make the replace() a silent no-op and
  // quietly revert the stream gate to the unfiltered batch oracle —
  // fail at class-init instead (r10 review)
  require(asofStreamOracle != asofOracle,
    "asofStreamOracle: predicate splice found no anchor in asofOracle")

  private val oraclesHead: Map[String, String] = Map(
    "cdc_gap_audit" -> gapAuditSql,
    "cdc_failover_merge" -> failoverMergeSql,
    "cdc_late_arrival_audit" -> {
      def one(name: String, secs: Long) =
        s"""SELECT '$name' AS delay, count(*) AS n_changes,
           |  count(CASE WHEN wm_prev IS NOT NULL
           |    AND epoch_us(ts) + CAST($secs AS BIGINT) * 1000000
           |      < epoch_us(wm_prev)
           |    THEN 1 END) AS n_late
           |FROM t""".stripMargin
      s"""WITH $changesSql,
         |lc AS (SELECT seq,
         |    CASE WHEN seq % 17 = 0 THEN ts - to_microseconds(
         |      (2 + seq % 30) * CAST(3600000000 AS BIGINT))
         |    ELSE ts END AS ts
         |  FROM changes),
         |bt AS (SELECT *, seq // 1000 AS batch FROM lc),
         |bm AS (SELECT batch, max(ts) AS bmax FROM bt GROUP BY 1),
         |wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_prev
         |  FROM bm),
         |t AS (SELECT bt.ts, wm.wm_prev FROM bt JOIN wm USING (batch)),
         |u AS (${one("wm_01h", 3600L)}
         |  UNION ALL ${one("wm_06h", 21600L)}
         |  UNION ALL ${one("wm_24h", 86400L)})
         |SELECT delay, CAST(n_changes AS BIGINT) AS n_changes,
         |  CAST(n_late AS BIGINT) AS n_late,
         |  CAST(CAST(n_late AS HUGEINT) * 1000000 // n_changes
         |    AS BIGINT) AS late_ppm
         |FROM u ORDER BY delay""".stripMargin
    },
    "cdc_lag_metrics" ->
      s"""WITH $changesSql,
         |b AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS a
         |      FROM changes),
         |t AS (SELECT *, (SELECT a FROM b) AS ack FROM changes),
         |h AS (SELECT strftime(date_trunc('hour', ts),
         |        '%Y-%m-%d %H:%M:%S') AS bucket,
         |    count(*) AS n_changes,
         |    sum(CASE WHEN seq <= ack THEN 1 ELSE 0 END) AS n_acked,
         |    sum(CASE WHEN seq > ack THEN 1 ELSE 0 END) AS n_backlog,
         |    epoch_us(max(ts)) - epoch_us(max(CASE WHEN seq <= ack
         |      THEN ts END)) AS lag_micros
         |  FROM t GROUP BY 1
         |  UNION ALL
         |  SELECT 'TOTAL', count(*),
         |    sum(CASE WHEN seq <= ack THEN 1 ELSE 0 END),
         |    sum(CASE WHEN seq > ack THEN 1 ELSE 0 END),
         |    epoch_us(max(ts)) - epoch_us(max(CASE WHEN seq <= ack
         |      THEN ts END))
         |  FROM t)
         |SELECT bucket, CAST(n_changes AS BIGINT) AS n_changes,
         |  CAST(n_acked AS BIGINT) AS n_acked,
         |  CAST(n_backlog AS BIGINT) AS n_backlog,
         |  CAST(lag_micros AS BIGINT) AS lag_micros
         |FROM h ORDER BY bucket""".stripMargin,
    "cdc_tx_atomic_apply" ->
      s"""WITH $changesSql,
         |x AS (SELECT *, seq // 10 AS xid FROM changes),
         |b AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) + 3 AS cut_lsn
         |      FROM changes),
         |cm AS (SELECT xid, max(seq) AS commit_seq FROM x GROUP BY 1),
         |cc AS (SELECT x.*, cm.commit_seq FROM x JOIN cm USING (xid)
         |       WHERE cm.commit_seq <= (SELECT cut_lsn FROM b)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY key
         |        ORDER BY seq DESC) AS rn
         |      FROM cc)
         |SELECT key AS user_id, event_type AS last_event_type,
         |  value AS last_value, seq AS last_seq, xid, commit_seq
         |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,
    // the straight full-feed materialization — the bootstrap
    // construction must be indistinguishable from an untruncated replay
    "cdc_snapshot_bootstrap" ->
      s"""WITH $changesSql,
         |$bootstrapChangesSql,
         |b AS (SELECT CAST(floor(max(seq) * 0.3) AS BIGINT) AS w_lo
         |      FROM ch2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY key
         |        ORDER BY seq DESC) AS rn
         |      FROM ch2)
         |SELECT key AS user_id, event_type AS last_event_type,
         |  value AS last_value, seq AS last_seq,
         |  seq <= (SELECT w_lo FROM b) AS from_snapshot
         |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,
    // independent re-derivation from the base columns (never reparses
    // the PG text forms) — a symmetric encode/decode bug can't hide
    "cdc_typed_decode" ->
      s"""WITH base AS (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events)
         |SELECT event_id,
         |  event_id % 2 = 0 AS b,
         |  CAST(event_id % 100 AS SMALLINT) AS i2,
         |  CAST(event_id % 100000 AS INTEGER) AS i4,
         |  event_id AS i8,
         |  event_id + 3000000000 AS oid,
         |  CAST(cents || 'e-2' AS REAL) AS f4,
         |  CAST(cents || 'e-2' AS DOUBLE) AS f8,
         |  CAST(CAST(CASE WHEN cents < 0 THEN '-' ELSE '' END ||
         |       (abs(cents) // 100) || '.' ||
         |       lpad(CAST(abs(cents) % 100 AS VARCHAR), 2, '0')
         |       AS DECIMAL(38,18)) AS DOUBLE) AS num,
         |  CAST(ts AS DATE) AS d,
         |  strftime(ts, '$tsFmtDuck') AS ts_s,
         |  strftime(ts, '$tsFmtDuck') AS tstz_s,
         |  lower(lpad(hex(event_id), 8, '0') || '-0000-4000-8000-' ||
         |    lpad(hex(user_id), 12, '0')) AS uid,
         |  CAST(length(event_type) AS INTEGER) AS b_len,
         |  lower(hex(event_type)) AS b_hex,
         |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val,
         |  event_id % 1000 AS tid_block,
         |  CAST(event_id % 50 AS INTEGER) AS tid_off,
         |  CASE WHEN user_id IS NOT NULL THEN CAST(3 AS INTEGER) END AS ia_n,
         |  user_id + (event_id % 7) AS ia_sum,
         |  CASE WHEN event_type IS NOT NULL THEN CAST(5 AS INTEGER) END AS ta_n,
         |  CASE WHEN event_type IS NOT NULL THEN 'a,b' END AS ta_e2,
         |  CASE WHEN event_type IS NOT NULL THEN 'c"d' END AS ta_e4,
         |  CASE WHEN event_type IS NOT NULL THEN 'e\\f' END AS ta_e5
         |FROM base ORDER BY event_id""".stripMargin,
    "cdc_resume_from_lsn" ->
      s"""WITH $changesSql,
         |a AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS ack_lsn FROM changes),
         |r AS (SELECT c.*, a.ack_lsn,
         |        row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |      FROM changes c, a)
         |SELECT key AS user_id, event_type AS last_event_type,
         |  value AS last_value, seq AS last_seq, ack_lsn
         |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,
    "cdc_outbox_consume" ->
      s"""WITH $changesSql,
         |outbox AS (SELECT seq AS message_id, key AS aggregate_id,
         |    event_type, value FROM changes),
         |delivered AS (SELECT * FROM outbox
         |  UNION ALL SELECT * FROM outbox WHERE message_id % 7 = 0)
         |SELECT message_id, aggregate_id, event_type, value,
         |  count(*) AS n_deliveries
         |FROM delivered GROUP BY 1, 2, 3, 4 ORDER BY message_id""".stripMargin,
    "cdc_stream_sliding" ->
      """WITH m AS (SELECT ts, event_type, value,
        |    time_bucket(INTERVAL 15 MINUTES, ts) AS tb FROM events
        |  WHERE ts IS NOT NULL),
        |w AS (SELECT event_type, value,
        |    tb - k.k * INTERVAL 15 MINUTES AS win_start
        |  FROM m CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events,
        |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "cdc_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "cdc_decode_quarantine" ->
      s"""SELECT count(*) AS n_total,
        |  count(*) - count(*) FILTER (event_id % 97 = 0) AS n_ok,
        |  count(*) FILTER (event_id % 97 = 0) AS n_quarantined
        |FROM events WHERE ${ChangeFeed.wellFormedSql}""".stripMargin,
    "cdc_truncate_apply" ->
      s"""WITH $changesSql,
         |t AS (SELECT coalesce(max((seq // 2500) * 2500), 0) AS trunc_seq
         |      FROM changes WHERE seq // 2500 > 0),
         |surv AS (SELECT c.* FROM changes c, t WHERE c.seq > t.trunc_seq),
         |r AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |      FROM surv)
         |SELECT key AS user_id, event_type AS last_event_type,
         |  value AS last_value, seq AS last_seq
         |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,
    "cdc_stream_asof" -> asofStreamOracle,
    "cdc_asof_join" -> asofOracle)

  private val restOracles: Map[String, String] = Map(
    "cdc_stream_scd2" -> scd2Oracle,
    "cdc_stream_sessions" ->
      s"""WITH g AS (SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |           > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_sess
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |sess AS (SELECT user_id, ts, value,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM g)
         |SELECT user_id,
         |  strftime(min(ts), '$tsFmtDuck') AS session_start,
         |  count(*) AS n_events,
         |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_start""".stripMargin,
    "cdc_stream_join" ->
      s"""SELECT a.user_id, a.event_id AS signup_seq, b.event_id AS purchase_seq,
         |  b.value AS purchase_value,
         |  strftime(a.ts, '$tsFmtDuck') AS signup_ts,
         |  strftime(b.ts, '$tsFmtDuck') AS purchase_ts
         |FROM events a JOIN events b ON a.user_id = b.user_id
         |WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
         |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
         |ORDER BY signup_seq, purchase_seq""".stripMargin,
    "cdc_stream_dedup" ->
      s"""SELECT event_id, user_id, event_type, value,
         |  strftime(ts, '$tsFmtDuck') AS ts_str
         |FROM events ORDER BY event_id""".stripMargin,
    "cdc_schema_evolution" ->
      s"""WITH $changesSql
         |SELECT seq, op, key AS user_id,
         |  CASE WHEN op = 'd' THEN NULL
         |       WHEN (seq // 1000) % 3 = 2 THEN NULL
         |       ELSE event_type END AS event_type,
         |  CASE WHEN op = 'd' THEN NULL
         |       WHEN (seq // 1000) % 3 = 0 THEN NULL
         |       ELSE value END AS value
         |FROM changes ORDER BY seq""".stripMargin,
    "cdc_pgoutput_decode" -> parsedOracle,
    "cdc_wal2json_parse" -> parsedOracle,
    "cdc_debezium_parse" -> parsedOracle,
    "cdc_latest_state" -> latestOracle,
    "cdc_stream_upserts" -> latestOracle,
    "cdc_compaction" -> latestOracle,
    "cdc_table_routing" ->
      s"""WITH $changesSql,
         |r AS (SELECT
         |        CASE WHEN seq % 2 = 0 THEN 'users' ELSE 'audit' END AS tbl,
         |        CASE WHEN seq % 2 = 0 THEN key ELSE seq END AS route_key,
         |        seq, op, event_type, value,
         |        row_number() OVER (
         |          PARTITION BY seq % 2,
         |            CASE WHEN seq % 2 = 0 THEN key ELSE seq END
         |          ORDER BY seq DESC) AS rn
         |      FROM changes)
         |SELECT tbl, route_key, seq AS last_seq,
         |  event_type AS last_event_type,
         |  floor(value * 100 + 0.5) / 100 AS last_value
         |FROM r WHERE rn = 1 AND op <> 'd'
         |ORDER BY tbl, route_key""".stripMargin,
    "cdc_incremental_agg" ->
      s"""WITH $changesSql,
         |r AS (SELECT key, seq, op, event_type,
         |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         |        row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |      FROM changes)
         |SELECT event_type, count(*) AS n_live,
         |  CAST(sum(cents) AS BIGINT) AS cents_total
         |FROM r WHERE rn = 1 AND op <> 'd'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same materialization contract as upserts — but fed from decoded
    // binary segments, so codec/source bugs surface as state diffs
    "cdc_replication_source" -> latestOracle,
    "cdc_wal2json_stream" -> latestOracle,
    "cdc_debezium_stream" -> latestOracle,
    "cdc_kafka_stream" -> latestOracle,
    "cdc_time_travel" ->
      s"""WITH $changesSql,
         |cut AS (SELECT CAST(floor(max(seq) / 2) AS BIGINT) AS c FROM changes),
         |r1 AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |       FROM changes),
         |v1 AS (SELECT * FROM r1 WHERE rn = 1 AND op <> 'd'),
         |r0 AS (SELECT ch.*, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |       FROM changes ch, cut WHERE ch.seq <= cut.c),
         |v0 AS (SELECT * FROM r0 WHERE rn = 1 AND op <> 'd')
         |SELECT v1.key AS user_id, v1.event_type AS cur_event_type,
         |  v1.value AS cur_value, v1.seq AS cur_seq,
         |  v0.event_type AS old_event_type, v0.value AS old_value,
         |  v0.seq AS old_seq
         |FROM v1 LEFT JOIN v0 ON v1.key = v0.key ORDER BY user_id""".stripMargin,
    "cdc_scd2_history" -> scd2Oracle,
    "cdc_event_stats" ->
      s"""WITH $changesSql
         |SELECT op, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  count(*) AS n_changes,
         |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
         |FROM changes GROUP BY op, hour ORDER BY op, hour""".stripMargin,
    "cdc_stream_windowed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n_events,
        |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin)

  val oracles: Map[String, String] = oraclesHead ++ restOracles
}
