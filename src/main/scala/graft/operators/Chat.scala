package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFns

/** SFT / instruction-tuning conversation curation (§2 #39 family).
  *
  * Post-training corpora ship as chat JSONL — one conversation per line,
  * `{"conv_id", "source", "messages": [{"role", "content"}, ...]}` — and a
  * training-data engine needs the same curation battery over them the
  * pre-training side has over documents: structural validation (role
  * alternation, empty turns), per-conversation statistics, and
  * prompt-level deduplication (near-identical prompts across sources leak
  * eval sets and overweight templates). The reference engine has no chat
  * surface (its corpus is Gutenberg text, storage/client.go); this family
  * is new-engine surface like the WARC/WET/WAT stack.
  *
  * Scale design: conversations stay ONE ROW each — every per-conversation
  * statistic runs on the `messages` array with codegen'd higher-order
  * functions (`transform`/`filter`/`aggregate`/`forall`), so `chat_stats`,
  * `chat_gate` and the dedup key derivation are MAP-ONLY (zero exchanges
  * over 100 TB of conversations). The only shuffles in the family are the
  * one `turn_idx` explode in [[chatTurns]] (the turn-grain view is the
  * product there) and the prompt-key groupBy in [[chatDedup]] (uniform
  * 60-bit key, map-side partials). The JSONL read uses an EXPLICIT schema
  * (no inference pass) and PERMISSIVE mode — a corrupt line is one null
  * row, dropped by the `messages IS NOT NULL` guard, never a job abort.
  *
  * Oracle independence: the DuckDB oracles below embed the committed
  * fixture's RAW JSON LINES (scripts/make_chat_fixture.py writes the same
  * bytes) and re-parse them with DuckDB's own JSON parser — the whole
  * Spark chain (gzip split read, schema projection, array semantics) is
  * checked against a second engine's parse of identical input.
  */
object Chat {

  /** Chat-corpus schema, explicit (the JsonlSource discipline — inference
    * would be a full extra pass at scale). */
  val ChatSchema: StructType = StructType(Seq(
    StructField("conv_id", LongType),
    StructField("source", StringType),
    StructField("messages", ArrayType(StructType(Seq(
      StructField("role", StringType),
      StructField("content", StringType)))))))

  lazy val FixtureDir: String =
    graft.sources.WarcSource.materializeChatFixture()

  /** Read a chat JSONL corpus (gzip and plain parts mix); corrupt lines
    * surface as all-null rows (PERMISSIVE), valid rows keep array order. */
  def readChat(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ChatSchema).json(path)

  /** Parsed conversations of the committed fixture (corrupt line dropped —
    * its null `messages` would poison every array op downstream). */
  private def conversations(spark: SparkSession): DataFrame =
    readChat(spark, FixtureDir).where(col("messages").isNotNull)

  // ---- shared structural columns (all map-only array expressions) -------

  /** Roles after the optional single leading system turn. */
  private val BodyRolesExpr =
    """slice(transform(messages, m -> m.role),
      |      IF(size(messages) > 0 AND messages[0].role = 'system', 2, 1),
      |      size(messages))""".stripMargin

  /** 1 when the post-system body is a non-empty strict user/assistant
    * alternation starting at user (a stray later system fails — it can
    * match neither parity slot). */
  private val AlternationExpr =
    s"""IF(size($BodyRolesExpr) > 0 AND
       |   forall(transform($BodyRolesExpr,
       |            (r, i) -> r = IF(i % 2 = 0, 'user', 'assistant')),
       |          b -> b),
       |   CAST(1 AS BIGINT), CAST(0 AS BIGINT))""".stripMargin

  /** Canonical prompt key: the user turns in order, each lowercased /
    * trimmed / whitespace-collapsed, joined on  — then the shared
    * 60-bit md5. Template-level identity, robust to spacing and case. */
  private[graft] def promptKeyCol =
    TextFns.md5Long(
      array_join(
        expr("""transform(filter(messages, m -> m.role = 'user'),
                |          m -> lower(trim(regexp_replace(m.content,
                |                                          '\\s+', ' '))))""".stripMargin),
        ""))

  // ---- #39a chat_turns: the turn-grain view ------------------------------
  /** One row per turn (the grain tokenizers and reward models consume).
    * The explode is the product here; everything else in the family stays
    * at conversation grain. */
  def chatTurns(spark: SparkSession, dir: String): DataFrame =
    conversations(spark)
      .select(col("conv_id"), col("source"),
        posexplode(col("messages")).as(Seq("turn_idx", "m")))
      .select(col("conv_id"), col("source"),
        col("turn_idx").cast("long").as("turn_idx"),
        col("m.role").as("role"), col("m.content").as("content"),
        length(col("m.content")).cast("long").as("n_chars"))

  // ---- streaming-composable stages ---------------------------------------
  /** Parse a stream (or frame) of raw JSONL lines in column `line` into
    * the conversations shape — `from_json` under the explicit schema, the
    * event_props_agg discipline; unparseable lines yield null `messages`
    * and are dropped by the same guard as the batch read. */
  def parseChatLines(lines: DataFrame): DataFrame =
    lines
      .withColumn("c", from_json(col("line"),
        org.apache.spark.sql.types.StructType(ChatSchema.fields)))
      .select((ChatSchema.fieldNames.map(f => col(s"c.$f")) ++
        lines.columns.filter(_ != "line").map(col)): _*)
      .where(col("messages").isNotNull)

  /** Stateless streaming twin of [[chatGate]] — map-only, so the same
    * projection serves batch and stream (spec-locked batch≡stream). */
  def chatGateStage(conv: DataFrame): DataFrame = chatGateOf(conv)

  /** Streaming prompt-level dedup: the [[chatDedup]] canonical key as
    * keyed state — a re-submitted prompt within the watermark horizon is
    * dropped (the DocsStream.dedupByContent shape; requires an
    * `ingest_ts` event-time column). */
  def promptDedupStage(conv: DataFrame): DataFrame =
    conv
      .withColumn("prompt_key", promptKeyCol)
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("prompt_key")

  // ---- #39b chat_stats: per-conversation census (map-only) ---------------
  private def chatStatsOf(conv: DataFrame): DataFrame =
    conv.select(
      col("conv_id"), col("source"),
      size(col("messages")).cast("long").as("n_turns"),
      expr("size(filter(messages, m -> m.role = 'system'))").cast("long")
        .as("n_system"),
      expr("size(filter(messages, m -> m.role = 'user'))").cast("long")
        .as("n_user"),
      expr("size(filter(messages, m -> m.role = 'assistant'))").cast("long")
        .as("n_assistant"),
      expr("messages[0].role").as("first_role"),
      expr("element_at(messages, -1).role").as("last_role"),
      expr("aggregate(messages, CAST(0 AS BIGINT), " +
        "(acc, m) -> acc + length(m.content))").as("total_chars"),
      expr(AlternationExpr).as("alternation_ok"))

  def chatStats(spark: SparkSession, dir: String): DataFrame =
    chatStatsOf(conversations(spark))

  // ---- #39c chat_gate: structural quality gate (map-only) ----------------
  /** Keep/drop with ONE pinned reason. Precedence (first failing wins):
    * bad_start (first non-system turn isn't user, or no body at all) >
    * bad_alternation > empty_turn (any whitespace-only content) >
    * too_short (fewer than 2 non-system turns) > bad_end (doesn't finish
    * on assistant) > ok. */
  private def chatGateOf(conv: DataFrame): DataFrame =
    conv
      .select(col("conv_id"), col("source"),
        expr(s"""CASE
          | WHEN size($BodyRolesExpr) = 0
          |   OR element_at($BodyRolesExpr, 1) <> 'user' THEN 'bad_start'
          | WHEN $AlternationExpr = 0 THEN 'bad_alternation'
          | WHEN exists(messages, m -> trim(m.content) = '') THEN 'empty_turn'
          | WHEN size($BodyRolesExpr) < 2 THEN 'too_short'
          | WHEN element_at($BodyRolesExpr, -1) <> 'assistant' THEN 'bad_end'
          | ELSE 'ok' END""".stripMargin).as("reason"))
      .withColumn("keep",
        when(col("reason") === "ok", 1L).otherwise(0L))
      .select(col("conv_id"), col("source"), col("keep"), col("reason"))

  def chatGate(spark: SparkSession, dir: String): DataFrame =
    chatGateOf(conversations(spark))

  // ---- #39d chat_dedup: prompt-level duplicate census ---------------------
  /** Conversations grouped by canonical prompt key (user turns only — the
    * assistant side varies across annotators, the PROMPT is the leak
    * vector). Key derivation is map-only; the rollup is ONE uniform-key
    * groupBy with map-side partials. Representative = min conv_id. */
  def chatDedup(spark: SparkSession, dir: String): DataFrame =
    conversations(spark)
      .select(col("conv_id"), col("source"), promptKeyCol.as("prompt_key"))
      .groupBy(col("prompt_key"))
      .agg(count(lit(1)).as("n_convs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("conv_id")).as("rep_conv_id"))

  // ---- DuckDB oracles -----------------------------------------------------
  /** The committed fixture's raw lines, embedded for DuckDB's independent
    * parse. MUST byte-match scripts/make_chat_fixture.py — drift fails the
    * driver gate because Spark reads the files while the oracle reads this
    * text. */
  private val RawLinesValues: String = Seq(
    """{"conv_id":1,"source":"sft_a","messages":[{"role":"system","content":"You are helpful."},{"role":"user","content":"What is 2+2?"},{"role":"assistant","content":"4."}]}""",
    """{"conv_id":2,"source":"sft_a","messages":[{"role":"user","content":"Translate hello"},{"role":"assistant","content":"bonjour"}]}""",
    """{"conv_id":3,"source":"sft_b","messages":[{"role":"user","content":"What is 2+2?"},{"role":"assistant","content":"Four."}]}""",
    """{"conv_id":4,"source":"sft_b","messages":[{"role":"user","content":"A"},{"role":"user","content":"B"},{"role":"assistant","content":"C"}]}""",
    """{"conv_id":5,"source":"sft_b","messages":[{"role":"assistant","content":"Hi there"}]}""",
    """{"conv_id":6,"source":"sft_c","messages":[{"role":"user","content":"Tell me a joke"},{"role":"assistant","content":""}]}""",
    """{"conv_id":7,"source":"sft_c","messages":[{"role":"system","content":"Be brief."},{"role":"user","content":"Sum 1..3?"},{"role":"assistant","content":"6."},{"role":"user","content":"And 1..4?"},{"role":"assistant","content":"10."}]}""",
    """{"conv_id": 8, "messages": [""",
    """{"conv_id":9,"source":"sft_d","messages":[{"role":"user","content":"  What   is 2+2? "},{"role":"assistant","content":"4"}]}""",
    """{"conv_id":10,"source":"sft_d","messages":[{"role":"user","content":"Unicode ü ß 中文"},{"role":"assistant","content":"ok"}]}""",
    """{"conv_id":11,"source":"sft_d","messages":[{"role":"system","content":"x"},{"role":"user","content":"hello"},{"role":"assistant","content":"world"},{"role":"user","content":"again"}]}""",
    """{"conv_id":12,"source":"sft_d","messages":[{"role":"user","content":"hi"}]}""",
  ).map(l => s"  ('$l')").mkString("(VALUES\n", ",\n", ")")

  /** Shared turn-grain CTE: DuckDB's own JSON parse of the raw lines
    * (json_valid drops the corrupt line exactly like PERMISSIVE+guard).
    * conv 10's unicode is embedded as literal codepoints here while the
    * fixture file carries \\u escapes — both JSON decodings yield the same
    * strings, which is the equality under test. */
  private val TurnsCte: String =
    s"""raw(line) AS $RawLinesValues,
       |conv AS (
       |  SELECT CAST(json_extract_string(line, '$$.conv_id') AS BIGINT)
       |      AS conv_id,
       |    json_extract_string(line, '$$.source') AS source,
       |    CAST(json_array_length(line, '$$.messages') AS BIGINT) AS n_msgs,
       |    line
       |  FROM raw WHERE json_valid(line)
       |), idx AS (
       |  SELECT conv_id, source, n_msgs, line, unnest(range(n_msgs)) AS i
       |  FROM conv
       |), turns AS (
       |  SELECT conv_id, source, n_msgs, CAST(i AS BIGINT) AS turn_idx,
       |    json_extract_string(line, '$$.messages[' || i || '].role') AS role,
       |    json_extract_string(line, '$$.messages[' || i || '].content')
       |      AS content
       |  FROM idx
       |), offs AS (
       |  SELECT conv_id,
       |    CASE WHEN max(CASE WHEN turn_idx = 0 THEN role END) = 'system'
       |      THEN 1 ELSE 0 END AS o
       |  FROM turns GROUP BY 1
       |)""".stripMargin

  val chatTurnsSql: String =
    s"""WITH $TurnsCte
       |SELECT conv_id, source, turn_idx, role, content,
       |  CAST(length(content) AS BIGINT) AS n_chars
       |FROM turns""".stripMargin

  val chatStatsSql: String =
    s"""WITH $TurnsCte
       |SELECT t.conv_id, t.source,
       |  CAST(max(n_msgs) AS BIGINT) AS n_turns,
       |  CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_system,
       |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_user,
       |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_assistant,
       |  max(CASE WHEN turn_idx = 0 THEN role END) AS first_role,
       |  max(CASE WHEN turn_idx = n_msgs - 1 THEN role END) AS last_role,
       |  CAST(sum(length(content)) AS BIGINT) AS total_chars,
       |  CASE WHEN max(n_msgs) - max(o) > 0 AND
       |    bool_and(CASE WHEN turn_idx < o THEN role = 'system'
       |      ELSE role = CASE WHEN (turn_idx - o) % 2 = 0
       |        THEN 'user' ELSE 'assistant' END END)
       |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alternation_ok
       |FROM turns t JOIN offs USING (conv_id)
       |GROUP BY 1, 2""".stripMargin

  val chatGateSql: String =
    s"""WITH $TurnsCte,
       |flags AS (
       |  SELECT t.conv_id, t.source,
       |    max(n_msgs) - max(o) AS n_body,
       |    max(CASE WHEN turn_idx = o THEN role END) AS first_body,
       |    max(CASE WHEN turn_idx = n_msgs - 1 THEN role END) AS last_role,
       |    CASE WHEN bool_and(CASE WHEN turn_idx < o THEN role = 'system'
       |        ELSE role = CASE WHEN (turn_idx - o) % 2 = 0
       |          THEN 'user' ELSE 'assistant' END END)
       |      THEN 1 ELSE 0 END AS alt_ok,
       |    CASE WHEN bool_or(trim(content) = '') THEN 1 ELSE 0 END
       |      AS has_empty
       |  FROM turns t JOIN offs USING (conv_id)
       |  GROUP BY 1, 2
       |)
       |SELECT conv_id, source,
       |  CASE WHEN reason = 'ok' THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS keep,
       |  reason
       |FROM (
       |  SELECT conv_id, source,
       |    CASE
       |      WHEN n_body = 0 OR first_body <> 'user' THEN 'bad_start'
       |      WHEN n_body > 0 AND alt_ok = 0 THEN 'bad_alternation'
       |      WHEN has_empty = 1 THEN 'empty_turn'
       |      WHEN n_body < 2 THEN 'too_short'
       |      WHEN last_role <> 'assistant' THEN 'bad_end'
       |      ELSE 'ok' END AS reason
       |  FROM flags)""".stripMargin

  val chatDedupSql: String = {
    val canon = s"lower(trim(regexp_replace(content, '${TextFns.WsClass}+', ' ', 'g')))"
    s"""WITH $TurnsCte,
       |keys AS (
       |  SELECT c.conv_id, c.source,
       |    ${TextFns.sqlMd5Long(
              s"coalesce(string_agg(CASE WHEN role = 'user' THEN $canon END, " +
              s"chr(1) ORDER BY turn_idx), '')")}
       |      AS prompt_key
       |  FROM conv c LEFT JOIN turns t USING (conv_id)
       |  GROUP BY 1, 2
       |)
       |SELECT prompt_key, count(*) AS n_convs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  min(conv_id) AS rep_conv_id
       |FROM keys GROUP BY 1""".stripMargin
  }
}
