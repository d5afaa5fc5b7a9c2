package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.SpecCompiler
import graft.spec.StreamSpec
import graft.functions.text.wordsOf

/** Shared plumbing for the Entries* tier files: table loaders, the JSON
  * event-stream synthesizer, spec templates, and reusable oracle-SQL
  * fragments (extracted so a derived gate CANNOT drift from the operator
  * gate it builds on - the qualityFilterSql convention).
  */
private[graft] object EntrySupport {


  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The events table stores ts as TIMESTAMP(NANOS), which Spark's parquet
    // reader rejects by default; read it as long nanos and truncate to the
    // engine's microsecond timestamps (DuckDB's CAST(ts AS TIMESTAMP) does
    // the same truncation on the oracle side).
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Exception => }
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integral div: no double rounding
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // driver-regenerated data may store naive micros (no UTC flag),
        // which a default session infers as TIMESTAMP_NTZ; our sessions
        // run UTC with NTZ inference off, but guard against foreign
        // sessions (driver smoke) — the cast reads the wall-clock as
        // session-local, which under UTC matches DuckDB's naive semantics
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** The events table as a raw JSON event stream, as a geist source would
    * deliver it: one JSON document per event, "value" column.
    * Shape: {"eid":N,"foo":{"evtType":s,"custId":N,"amount":f},"props":{"k":N},
    *         "textPayload":"evt|uid|k","ut":millis,"iso":"..."}
    */
  private[graft] def eventJson(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.select(
      to_json(
        struct(
          col("event_id").as("eid"),
          struct(
            col("event_type").as("evtType"),
            col("user_id").as("custId"),
            col("value").as("amount")
          ).as("foo"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("props"),
          concat_ws("|", col("event_type"), col("user_id"),
            get_json_object(col("props"), "$.k")).as("textPayload"),
          unix_millis(col("ts")).as("ut"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("iso")
        )
      ).as("value")
    )
  }

  private[graft] def pipelineOf(specJson: String) =
    SpecCompiler.compile(StreamSpec.parseUnsafe(specJson))

  private[graft] def specTemplate(transformBody: String): String =
    s"""{
       |  "namespace": "graft", "streamIdSuffix": "q", "version": 1,
       |  "description": "driver-contract query",
       |  "source": {"type": "geistapi"},
       |  "transform": $transformBody,
       |  "sink": {"type": "void"}
       |}""".stripMargin

  /** 13-token tail injected by `ns_substr_dedup` to create duplicated
    * spans (leading space: it's appended to running text).
    */
  private[graft] val SubstrDedupTail =
    " this work is licensed under a creative commons attribution license all rights reserved"

  /** Frozen BPE merge table: `Bpe.learnFromCorpus(sf0.001 documents, 64
    * merges, vocabTopK 50000, minCount 1)`, inlined so the tokenizer is a
    * fixed artifact (BpeSpec re-derives it from the corpus to pin
    * provenance). Both the `ns_bpe` query and its oracle are generated
    * from this one list, so Scala and SQL cannot drift.
    */
  private[graft] val FrozenBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("d", "ow"), ("in", "dow"), ("w", "indow"), ("d", "er"), ("or", "der"),
    ("or", "t"), ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"),
    ("ag", "g"), ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"), ("g", "r"), ("gr", "o"),
    ("gro", "up"), ("q", "u"), ("qu", "ery"), ("c", "t"), ("ct", "or"),
    ("e", "ctor"), ("v", "ector"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("l", "ow"), ("s", "low"), ("a", "m"), ("e", "am"), ("r", "eam"),
    ("st", "ream"), ("f", "i"), ("fi", "l"), ("fil", "t"), ("filt", "er"),
    ("a", "st"), ("f", "ast"))

  /** Frozen quality-classifier gate model:
    * `Classifier.train(sf0.001 documents, label = stopword-fraction >=
    * 6.4%, buckets 64, maxN 1, iters 50)` — inlined so the
    * scorer gates against a fixed artifact (ClassifierSpec re-derives it
    * from the corpus to pin provenance, the FrozenBpeMerges pattern).
    * Both the `ns_quality_classifier` query and its oracle are generated
    * from this one array, so Scala and SQL cannot drift.
    */
  private[graft] val FrozenQualityWeightsMicro: Array[Long] = Array(
    -88816L, -2577154L, 0L, 0L, 0L, -3545677L, 0L, 0L, 0L, 0L, -4002629L,
    0L, -1662112L, -721798L, -774144L, 0L, 0L, 0L, 0L, 856751L, 0L, 0L,
    -261801L, 1547663L, 0L, -3789078L, 0L, -544088L, 0L, 0L, -1343157L,
    -218544L, -3488741L, 0L, 0L, 0L, -808700L, 0L, 0L, -994438L, 0L,
    35630L, 0L, 0L, 0L, 9768990L, 0L, 0L, -564139L, -1798726L, 0L, 0L,
    0L, 0L, 0L, -55507L, -809214L, 17656653L, -1289915L, 0L, 0L,
    -696238L, 0L, 0L)
  private[graft] val FrozenQualityBiasMicro: Long = -170240L

  /** DuckDB replay of the frozen classifier's scoring: recompute portable
    * hashed unigram buckets, join the inlined weight table, integer dot +
    * integer margin sign — value-for-value the scorer's arithmetic.
    */
  private[graft] def qualityOracleSql: String = {
    val nBuckets = FrozenQualityWeightsMicro.length // literals derive from the
    val values = FrozenQualityWeightsMicro.zipWithIndex // frozen array: no drift
      .map { case (w, b) => s"($b, ${w})" }.mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    CAST((('0x' || substr(md5(g), 1, 8))::UBIGINT & 2147483647) % $nBuckets AS INT) AS bucket,
       |    count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS g FROM tk) GROUP BY 1, 2),
       |w(bucket, wm) AS (VALUES $values),
       |s AS (
       |  SELECT b.doc_id,
       |    CAST(sum(b.c) AS BIGINT) AS n_feats,
       |    CAST(sum(b.c * w.wm) AS BIGINT) AS dot_micro
       |  FROM b JOIN w USING (bucket) GROUP BY 1)
       |SELECT doc_id, n_feats, dot_micro,
       |       dot_micro + (${FrozenQualityBiasMicro}) * n_feats > 0 AS predicted
       |FROM s""".stripMargin
  }

  /** Frozen PCA gate basis: `Embeddings.trainPca(sf0.001 embeddings,
    * dim 64, k 4)` — inlined so projection gates against a fixed artifact
    * (EmbeddingsSpec re-derives it to pin provenance); the query and its
    * oracle are both generated from this one array.
    */
  private[graft] val FrozenPcaComponentsMicro: Array[Array[Long]] = Array(
    Array(
      -148827L, -58049L, 43575L, -173283L, 8858L, 235811L, 169725L, 158988L,
      64539L, -236562L, 225757L, 47036L, 62054L, 114844L, 221932L, 66995L,
      -104744L, 16620L, -115888L, 124432L, -49509L, 41750L, -189276L, -39085L,
      92673L, -215611L, 45146L, 235886L, 58647L, 35038L, 13611L, -10174L,
      -37786L, 105016L, -294644L, 18753L, -86303L, -506L, 23427L, 28956L,
      84420L, 63847L, 113910L, 75813L, -80885L, -221800L, -73610L, 302326L,
      87312L, -136750L, 135253L, 71733L, -61038L, 21305L, -24158L, -125776L,
      -50156L, 103313L, -61741L, 14281L, 29864L, 3813L, -248260L, -90804L),
    Array(
      -102894L, 95621L, 262900L, -101434L, 99004L, -224674L, -90603L, -57528L,
      -216372L, -58801L, 64241L, 66691L, 67549L, -6207L, -102223L, 41199L,
      142718L, -25986L, 179735L, -227338L, 290204L, 77507L, -207200L, 260448L,
      -79141L, 8760L, -6198L, -13172L, 81459L, 92662L, 82985L, 41386L,
      160377L, 137816L, 8604L, -233877L, -27140L, 103004L, 27483L, -30349L,
      117315L, -262573L, 75843L, 35223L, 73179L, -147197L, -140622L, 29036L,
      161959L, 54223L, 57642L, 93611L, -24913L, 33224L, 161598L, -85149L,
      115977L, 49241L, -65286L, -92397L, -27410L, 128169L, -77786L, 197423L),
    Array(
      180579L, -54678L, -112846L, 268148L, 67548L, 75063L, -6652L, 419742L,
      -26285L, -141982L, -25518L, 117621L, 38795L, -107820L, -76471L, -26251L,
      186602L, -112783L, -80115L, 48295L, -162173L, 41611L, -60167L, 89935L,
      27434L, 19031L, 40943L, 191325L, 193690L, -132490L, 28523L, 43073L,
      78502L, -134029L, -139923L, 6925L, 102897L, 192250L, 28245L, 85875L,
      -61587L, -33974L, -25198L, -57621L, 117843L, 125083L, -25340L, 196159L,
      -190977L, 51810L, 6278L, -8242L, -16421L, 119924L, 161272L, 107854L,
      158604L, -148865L, -42718L, -204530L, 32672L, 168317L, 97082L, 216310L),
    Array(
      -57162L, -72557L, 98266L, 69507L, -52799L, 145177L, -86678L, -28523L,
      89408L, 204884L, -13755L, 94574L, -107820L, 28154L, -24808L, -87082L,
      -53739L, 197309L, -7771L, -27634L, -32936L, -210912L, 54024L, 223283L,
      -230054L, 56121L, 78637L, 174980L, -31649L, 13995L, 96179L, 213127L,
      29444L, 82851L, -90083L, 62918L, -213609L, -142438L, 255354L, -107677L,
      -111401L, 185144L, 4024L, -120655L, -71985L, 578L, 96436L, -61089L,
      -54916L, 30729L, 114267L, 299051L, -284023L, -14906L, 243434L, 57382L,
      -14686L, 129445L, -127933L, -11140L, 111850L, -88269L, 113630L, 129496L))

  /** Frozen corpus mean (micro-units) for the centered projection —
    * derived with the basis; EmbeddingsSpec pins its provenance.
    */
  private[graft] val FrozenPcaMeanMicro: Array[Long] = Array(
    -2928L, -1427L, 1498L, 8534L, -1857L, -2655L, 97L, -9131L,
    -11225L, -4404L, 7712L, -9148L, -202L, 4818L, 4733L, -2985L,
    618L, -1411L, -1994L, -5096L, -6201L, -1744L, 3859L, -11007L,
    -2966L, -3075L, -714L, -2857L, -5044L, -3281L, -10473L, 309L,
    2068L, 4834L, -2873L, 4292L, 967L, -398L, -9004L, 9728L,
    -3610L, -8340L, 3472L, 2822L, -6098L, -11641L, 478L, -2170L,
    2422L, 1335L, -490L, -1996L, 3327L, 7020L, 9967L, 37L,
    3835L, 2453L, -6527L, 2123L, -3090L, 1494L, -4200L, 1213L)

  /** DuckDB replay of the frozen-basis projection: micro-quantize each
    * component (shared round convention), subtract the inlined mean, join
    * the inlined (k, i, w) weight table, exact integer dot per
    * (vector, component).
    */
  private[graft] def pcaOracleSql: String = {
    val values = (for {
      (row, k) <- FrozenPcaComponentsMicro.zipWithIndex
      (w, i) <- row.zipWithIndex
    } yield s"($k, ${i + 1}, ${w})").mkString(", ")
    val means = FrozenPcaMeanMicro.zipWithIndex
      .map { case (mu, i) => s"(${i + 1}, ${mu})" }.mkString(", ")
    val dim = FrozenPcaMeanMicro.length // literals derive from the frozen arrays
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings WHERE len(embedding) = $dim),
       |e AS (SELECT vec_id, unnest(range(1, ${dim + 1})) AS i, unnest(qe) AS x FROM q),
       |p(k, i, w) AS (VALUES $values),
       |m(i, mu) AS (VALUES $means)
       |SELECT e.vec_id, CAST(p.k AS INT) AS comp_idx,
       |       CAST(sum((e.x - m.mu) * p.w) AS BIGINT) AS proj
       |FROM e JOIN p USING (i) JOIN m USING (i) GROUP BY 1, 2""".stripMargin
  }

  /** DuckDB replay of BPE encoding: each word becomes a symbol string
    * (single-space pad, double-space between symbols — so a plain
    * left-to-right replace() of ' A  B ' with ' AB ' merges pairwise
    * occurrences exactly like the encoder's one-pass merge, including
    * back-to-back runs), then the merges are applied in rank order.
    * Sequential rank-order application equals the iterative lowest-rank
    * algorithm because a learned merge's output symbol only ever appears
    * in strictly-higher-rank pairs.
    */
  /** Frozen-BPE encode CTEs (tk → w → e with per-word subword lists) —
    * shared by the encode gate (`ns_bpe`) and the fertility gate
    * (`ns_bpe_fertility`) so both replay the SAME merge chain.
    */
  private[graft] def bpeEncodeCtes: String = {
    val symStr = "' ' || array_to_string(list_transform(range(1, length(word)+1), " +
      "i -> substr(word, i, 1)), '  ') || ' '"
    val chain = FrozenBpeMerges.foldLeft(symStr) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    s"""tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |w AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS wpos, unnest(toks) AS word FROM tk),
       |e AS (SELECT doc_id, wpos,
       |        CASE WHEN word = '' THEN [] ELSE string_split(trim($chain), '  ') END AS subs
       |      FROM w)""".stripMargin
  }

  private[graft] def bpeOracleSql: String =
    s"""WITH $bpeEncodeCtes,
       |x AS (SELECT doc_id, wpos, unnest(range(1, len(subs)+1)) AS spos, unnest(subs) AS tok FROM e)
       |SELECT doc_id,
       |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS INT) AS pos,
       |       tok AS token
       |FROM x""".stripMargin

  // ------------------------------------------------------------ specs

  private[graft] val routingSpec = specTemplate(
    """{
      |  "extractFields": [
      |    {
      |      "forEventsWith": [{"key": "foo.evtType", "value": "purchase"}],
      |      "fields": [
      |        {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |        {"id": "name", "jsonPath": "foo.evtType"},
      |        {"id": "custId", "jsonPath": "foo.custId", "type": "integer"},
      |        {"id": "amount", "jsonPath": "foo.amount", "type": "float"},
      |        {"id": "k", "jsonPath": "props.k", "type": "integer"}
      |      ]
      |    },
      |    {
      |      "forEventsWith": [{"key": "foo.evtType", "value": "signup"}],
      |      "fields": [
      |        {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |        {"id": "name", "jsonPath": "foo.evtType"},
      |        {"id": "custId", "jsonPath": "foo.custId", "type": "integer"},
      |        {"id": "k", "jsonPath": "props.k", "type": "integer"}
      |      ]
      |    }
      |  ]
      |}""".stripMargin)

  private[graft] val blacklistSpec = specTemplate(
    """{
      |  "excludeEventsWith": [
      |    {"key": "foo.evtType", "values": ["error", "view"]}
      |  ],
      |  "extractFields": [{"fields": [
      |    {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |    {"id": "name", "jsonPath": "foo.evtType"}
      |  ]}]
      |}""".stripMargin)

  private[graft] val whitelistSpec = specTemplate(
    """{
      |  "excludeEventsWith": [
      |    {"key": "foo.evtType", "valuesNotIn": ["purchase", "signup"]}
      |  ],
      |  "extractFields": [{"fields": [
      |    {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |    {"id": "name", "jsonPath": "foo.evtType"}
      |  ]}]
      |}""".stripMargin)

  private[graft] val dnfSpec = specTemplate(
    """{
      |  "excludeEventsWithMultipleConditions": [
      |    {"filters": [
      |      {"key": "foo.evtType", "values": ["click"]},
      |      {"key": "props.k", "values": ["42"]}
      |    ]},
      |    {"filters": [
      |      {"key": "foo.evtType", "values": ["view"]},
      |      {"key": "foo.custId", "values": ["0"]}
      |    ]}
      |  ],
      |  "extractFields": [{"fields": [
      |    {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |    {"id": "name", "jsonPath": "foo.evtType"},
      |    {"id": "k", "jsonPath": "props.k", "type": "integer"}
      |  ]}]
      |}""".stripMargin)

  private[graft] val itemsSpec = specTemplate(
    """{
      |  "extractItemsFromArray": [
      |    {
      |      "id": "m",
      |      "items": {
      |        "jsonPathToArray": "xs",
      |        "idFromItemFields": {"delimiter": "#", "fields": ["t", "u"]}
      |      }
      |    }
      |  ]
      |}""".stripMargin)

  private[graft] val regexpSpec = specTemplate(
    """{
      |  "extractFields": [{"fields": [
      |    {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |    {"id": "line", "jsonPath": "textPayload", "type": "string"}
      |  ]}],
      |  "regexp": {
      |    "field": "line",
      |    "expression": "^(?P<evt>[a-z]+)\\|(?P<uid>\\d+)\\|(?P<k>\\d+)$"
      |  }
      |}""".stripMargin)

  private[graft] val castsSpec = specTemplate(
    """{
      |  "extractFields": [{"fields": [
      |    {"id": "eid", "jsonPath": "eid", "type": "integer"},
      |    {"id": "unix_ts", "jsonPath": "ut", "type": "unixTimestamp"},
      |    {"id": "iso_ts", "jsonPath": "iso", "type": "isoTimestamp"},
      |    {"id": "amount", "jsonPath": "foo.amount", "type": "float"},
      |    {"id": "flag", "jsonPath": "missing.field"}
      |  ]}]
      |}""".stripMargin)


  /** Query-term postings (tf, dl) replay — shared by the scan-tier
    * (`ns_bm25`) and index-tier (`ns_bm25_indexed`) gates so the two
    * tiers are pinned to the SAME inverted representation.
    */
  private[graft] val bm25PostingsOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
      |SELECT doc_id, t AS term, count(*) AS tf, CAST(any_value(n) AS BIGINT) AS dl
      |FROM (SELECT doc_id, len(toks) AS n, unnest(toks) AS t FROM tk)
      |WHERE t IN ('join', 'filter', 'spark')
      |GROUP BY 1, 2""".stripMargin

  /** The 64 portable-minhash signature components as DuckDB expressions —
    * generated from the SAME affine constants the Spark-side
    * MinHashExpr uses (graft.functions.text.PortableHash),
    * so the oracle recomputes signatures value-for-value.
    */
  private[graft] def minhashSigSql: String = {
    import graft.functions.text.PortableHash
    (0 until 64).map(j =>
      s"list_min(list_transform(hs, h -> (${PortableHash.a(j)} * h + ${PortableHash.b(j)}) % ${PortableHash.P}))")
      .mkString("[", ",\n          ", "]")
  }

  /** Shared CTE stanza computing per-document portable-minhash signatures —
    * one definition feeds every minhash-derived oracle (candidates +
    * clustering) so the hash family can never silently diverge between
    * them.
    */
  /** Full Gopher-quality replay (per-doc signals + keep decision) with the
    * ns_quality_filter gate thresholds — shared verbatim by
    * ns_quality_filter and the per-language keep-rate leg of
    * ns_dataset_card, so the two oracles can never drift.
    */
  private[graft] val qualityFilterSql: String =
    """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
      |st AS (
      |  SELECT doc_id, len(toks) AS n_words,
      |    list_sum(list_transform(toks, t -> length(t))) AS sum_chars,
      |    len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS stop_hits,
      |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
      |    list_transform(range(1, (len(toks) + 1) // 2 + 1),
      |      i -> array_to_string(toks[(i-1)*2+1 : (i-1)*2+2], ' ')) AS lines,
      |    CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)),
      |      i -> array_to_string(toks[i:i+1], ' ')) END AS g2,
      |    CASE WHEN len(toks) < 3 THEN [] ELSE list_transform(range(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+2], ' ')) END AS g3
      |  FROM tk),
      |st2 AS (
      |  SELECT *, len(lines) AS n_lines, len(list_distinct(lines)) AS n_dist,
      |    list_sum(list_transform(lines, l -> length(l))) AS chars_total,
      |    list_sum(list_transform(list_distinct(lines), l -> length(l))) AS chars_dist,
      |    CASE WHEN len(g2) = 0 THEN 0.0
      |      ELSE CAST(list_sum(list_transform(g2, x -> length(x))) - list_sum(list_transform(list_distinct(g2), x -> length(x))) AS DOUBLE)
      |           / list_sum(list_transform(g2, x -> length(x))) END AS d2,
      |    CASE WHEN len(g3) = 0 THEN 0.0
      |      ELSE CAST(list_sum(list_transform(g3, x -> length(x))) - list_sum(list_transform(list_distinct(g3), x -> length(x))) AS DOUBLE)
      |           / list_sum(list_transform(g3, x -> length(x))) END AS d3
      |  FROM st)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  CAST(sum_chars AS DOUBLE) / n_words AS mean_word_len,
      |  CAST(stop_hits AS BIGINT) AS stop_hits,
      |  CAST(alpha_words AS DOUBLE) / n_words AS frac_alpha,
      |  CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(n_lines - n_dist AS DOUBLE) / n_lines AS dup_line_frac,
      |  CASE WHEN chars_total = 0 THEN 0.0
      |       ELSE CAST(chars_total - chars_dist AS DOUBLE) / chars_total END AS dup_char_frac,
      |  d2 AS dup_2gram_frac,
      |  d3 AS dup_3gram_frac,
      |  (n_words >= 30 AND n_words <= 10000
      |   AND CAST(sum_chars AS DOUBLE) / n_words >= 4.0
      |   AND CAST(sum_chars AS DOUBLE) / n_words <= 10.0
      |   AND stop_hits >= 2
      |   AND CAST(alpha_words AS DOUBLE) / n_words >= 0.9
      |   AND CAST(n_lines - n_dist AS DOUBLE) / n_lines <= 0.05
      |   AND CAST(chars_total - chars_dist AS DOUBLE) / chars_total <= 0.05
      |   AND d2 <= 0.08 AND d3 <= 0.04) AS keep
      |FROM st2""".stripMargin

  /** Gopher repetition-signal replay for ns_repetition — CTEs generated per
    * n from the same (n, threshold) tables the Spark query uses, so the
    * two sides can't drift. Top-gram ties replay via ORDER BY cnt DESC,
    * gram (binary collation = the expression's UTF-8-byte tie rule).
    */
  private[graft] def repetitionSql: String = {
    val topThresholds = Seq(2 -> 0.05, 3 -> 0.04, 4 -> 0.04)
    val dupThresholds = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    def gramsOf(n: Int) =
      s"CASE WHEN len(toks) < $n THEN [] ELSE list_transform(range(1, len(toks) - $n + 2), i -> array_to_string(toks[i:i+${n - 1}], ' ')) END"
    val tops = topThresholds.map { case (n, _) =>
      s"""g$n AS (SELECT doc_id, ${gramsOf(n)} AS gs FROM tk),
         |c$n AS (SELECT doc_id, g AS gram, count(*) AS cnt
         |        FROM (SELECT doc_id, unnest(gs) AS g FROM g$n) GROUP BY 1, 2),
         |w$n AS (SELECT doc_id, gram, cnt,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn,
         |          sum(cnt * length(gram)) OVER (PARTITION BY doc_id) AS total FROM c$n),
         |t$n AS (SELECT doc_id, gram AS top_gram,
         |          CAST(cnt * length(gram) AS DOUBLE) / total AS top_frac FROM w$n WHERE rn = 1)""".stripMargin
    }
    val dups = dupThresholds.map { case (n, _) =>
      s"""d$n AS (
         |  SELECT doc_id, CASE WHEN len(gs) = 0 THEN 0.0
         |    ELSE CAST(list_sum(list_transform(gs, x -> length(x))) - list_sum(list_transform(list_distinct(gs), x -> length(x))) AS DOUBLE)
         |         / list_sum(list_transform(gs, x -> length(x))) END AS dup_frac
         |  FROM (SELECT doc_id, ${gramsOf(n)} AS gs FROM tk))""".stripMargin
    }
    val keep = (topThresholds.map { case (n, t) => s"COALESCE(t$n.top_frac, 0.0) <= $t" } ++
      dupThresholds.map { case (n, t) => s"d$n.dup_frac <= $t" }).mkString(" AND ")
    s"""WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |${(tops ++ dups).mkString(",\n")}
       |SELECT tk.doc_id,
       |  ${topThresholds.map { case (n, _) =>
            s"COALESCE(t$n.top_gram, '') AS top_${n}gram, COALESCE(t$n.top_frac, 0.0) AS top_${n}gram_frac" }
            .mkString(",\n  ")},
       |  ${dupThresholds.map { case (n, _) => s"d$n.dup_frac AS dup_${n}gram_frac" }.mkString(",\n  ")},
       |  ($keep) AS keep
       |FROM tk
       |${topThresholds.map { case (n, _) => s"LEFT JOIN t$n USING (doc_id)" }.mkString(" ")}
       |${dupThresholds.map { case (n, _) => s"JOIN d$n USING (doc_id)" }.mkString(" ")}""".stripMargin
  }

  /** Shared HTML scaffold for ns_strip_markup: both engines wrap the
    * document text in THIS string (no single quotes — it goes into a SQL
    * literal verbatim) and must strip it back to
    * `Doc <text> & tail "q" <3 'a'`. Kept as one pair of constants so the
    * two sides cannot drift.
    */
  private[graft] val htmlPrefix =
    "<html><head><style type=\"text/css\">p { color: red }</style>" +
      "<script>var x = \"<b>1</b>\";</script></head>" +
      "<body><!-- note --><h1>Doc</h1><p class=\"lead\">"
  private[graft] val htmlSuffix =
    " &amp; tail &quot;q&quot;&nbsp;&lt;3 &apos;a&#39;</p></body></html>"

  private[graft] def htmlWrapSpark(inner: Column): Column =
    concat(lit(htmlPrefix), inner, lit(htmlSuffix))

  /** DuckDB replay of one [[graft.ops.Profile.groupProfile]] pass over
    * `documents` restricted by `whereSql`, as a chain of CTEs ending in
    * `<pref>p(lang, n_docs, total_tokens, distinct_tokens, p50_tokens,
    * p90_tokens)`. Shared by ns_profile_grouped-family gates so a derived
    * gate (profile drift) cannot diverge from the base profile replay.
    */
  private[graft] def profileSideCtes(pref: String, whereSql: String): String =
    raw"""${pref}d AS (
         |  SELECT lang, CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n
         |  FROM documents $whereSql),
         |${pref}b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n) AS BIGINT) AS total_tokens FROM ${pref}d GROUP BY 1),
         |${pref}r AS (SELECT lang, n, row_number() OVER (PARTITION BY lang ORDER BY n) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS cnt FROM ${pref}d),
         |${pref}q AS (SELECT lang,
         |        max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN n END) AS p50_tokens,
         |        max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN n END) AS p90_tokens
         |      FROM ${pref}r GROUP BY 1),
         |${pref}tk AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
         |       FROM documents $whereSql),
         |${pref}dt AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
         |       FROM ${pref}tk GROUP BY 1),
         |${pref}p AS (SELECT b.lang, n_docs, total_tokens, distinct_tokens, p50_tokens, p90_tokens
         |       FROM ${pref}b b JOIN ${pref}dt USING (lang) JOIN ${pref}q USING (lang))""".stripMargin

  /** DuckDB replay of [[graft.ops.Web.registrableDomain]] (PSL-lite) over
    * a host-typed SQL expression — shared by the ns_domains-family gates.
    */
  private[graft] def regDomainSql(hostExpr: String, suffixes: Seq[String]): String = {
    val inList = suffixes.map(x => s"'$x'").mkString(", ")
    s"""CASE WHEN len(string_split($hostExpr, '.')) >= 3
       |          AND array_to_string(string_split($hostExpr, '.')[-2:], '.') IN ($inList)
       |     THEN array_to_string(string_split($hostExpr, '.')[-3:], '.')
       |     WHEN len(string_split($hostExpr, '.')) >= 2
       |     THEN array_to_string(string_split($hostExpr, '.')[-2:], '.')
       |     ELSE $hostExpr END""".stripMargin
  }

  /** DuckDB twin of [[linksGateInput]] + [[graft.ops.Web.extractLinks]]:
    * synthesizes the identical markup, extracts with the same
    * AnchorTagRegex (both engines run RE2-compatible patterns), and
    * replays the drop-filter and all four absolutization rules. Ends with
    * a `links` CTE of (doc_id, url, link_pos, href, anchor, abs_url).
    * Note DuckDB regexp_replace needs the explicit 'g' flag to match
    * Spark's replace-all default.
    */
  private[graft] def linksGateCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    'https://' || source || '.example.com/dir/page' || doc_id || '.html' AS url,
      |    '<p>intro</p><A class="nav" HREF="https://ext' || (doc_id % 5) ||
      |      '.example.org/p?q=1">Ext <b>' || lang || '</b>' || chr(10) || ' site</A>' ||
      |      '<a href="//cdn' || (doc_id % 3) || '.example.net/lib.js">proto rel</a>' ||
      |      CASE WHEN doc_id % 2 = 0 THEN '<a href="/abs/' || doc_id || '">abs path</a>' ELSE '' END ||
      |      '<a href="rel' || (doc_id % 7) || '.html">doc rel</a><a href="#top">t</a>' ||
      |      '<a href="mailto:a@b.c">m</a><a href="javascript:void(0)">j</a>' AS text
      |  FROM documents),
      |lx AS (
      |  SELECT doc_id, url,
      |    regexp_extract_all(text, '(?i)<a\s[^>]*href="([^"]*)"[^>]*>([\s\S]*?)</a>', 1) AS hrefs,
      |    regexp_extract_all(text, '(?i)<a\s[^>]*href="([^"]*)"[^>]*>([\s\S]*?)</a>', 2) AS anchors
      |  FROM d),
      |li AS (
      |  SELECT doc_id, url, CAST(i AS INT) AS link_pos,
      |         hrefs[CAST(i AS INT) + 1] AS href, anchors[CAST(i AS INT) + 1] AS anchor
      |  FROM (SELECT doc_id, url, hrefs, anchors, unnest(range(len(hrefs))) AS i FROM lx)),
      |lr AS (
      |  SELECT doc_id, url, link_pos, href,
      |    trim(regexp_replace(regexp_replace(anchor, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS anchor,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS pscheme,
      |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS phost,
      |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '/[^/]*$', '') AS pdir
      |  FROM li
      |  WHERE NOT (href = '' OR href LIKE '#%' OR regexp_matches(href, '^(?i)(javascript|mailto|tel):'))),
      |links AS (
      |  SELECT doc_id, url, link_pos, href, anchor,
      |    CASE WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://') THEN href
      |         WHEN href LIKE '//%' THEN pscheme || ':' || href
      |         WHEN href LIKE '/%' THEN pscheme || '://' || phost || href
      |         ELSE pscheme || '://' || phost || pdir || '/' || href END AS abs_url
      |  FROM lr)""".stripMargin

  /** Shared input frame for the ns_links / ns_link_edges gates:
    * deterministic HTML-ish markup + page URL synthesized per document
    * from real corpus columns. Exercises every [[graft.ops.Web
    * .extractLinks]] path: absolute (mixed-case tag, nested markup +
    * newline in the anchor body), protocol-relative, conditional
    * root-relative (even ids only), doc-relative, and three dropped
    * non-navigational hrefs. [[linksGateCtes]] is the DuckDB twin.
    */
  private[graft] def linksGateInput(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val html = concat(
      lit("<p>intro</p><A class=\"nav\" HREF=\"https://ext"), pmod(col("doc_id"), lit(5)),
      lit(".example.org/p?q=1\">Ext <b>"), col("lang"), lit("</b>\n site</A>"),
      lit("<a href=\"//cdn"), pmod(col("doc_id"), lit(3)),
      lit(".example.net/lib.js\">proto rel</a>"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<a href=\"/abs/"), col("doc_id"), lit("\">abs path</a>")))
        .otherwise(lit("")),
      lit("<a href=\"rel"), pmod(col("doc_id"), lit(7)),
      lit(".html\">doc rel</a><a href=\"#top\">t</a>"),
      lit("<a href=\"mailto:a@b.c\">m</a><a href=\"javascript:void(0)\">j</a>"))
    val url = concat(lit("https://"), col("source"), lit(".example.com/dir/page"),
      col("doc_id"), lit(".html"))
    d.select(col("doc_id"), url.as("url"), html.as("text"))
  }

  /** DuckDB replay of [[graft.ops.TextAnalysis.stripMarkup]] over the same
    * scaffold — identical RE2-class patterns, every replace with the 'g'
    * flag (DuckDB replaces first-only by default; Spark replaces all).
    */
  private[graft] def stripMarkupSql: String = {
    val chain = Seq(
      "(?s)<!--.*?-->" -> " ",
      "(?is)<script\\b[^>]*>.*?</script>" -> " ",
      "(?is)<style\\b[^>]*>.*?</style>" -> " ",
      "<[^>]*>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&",
      "\\s+" -> " ")
    val expr = chain.foldLeft("h") { case (acc, (pat, rep)) =>
      val sqlRep = rep.replace("'", "''")
      s"regexp_replace($acc, '$pat', '$sqlRep', 'g')"
    }
    s"""WITH w AS (SELECT doc_id, '$htmlPrefix' || text || '$htmlSuffix' AS h FROM documents)
       |SELECT doc_id, trim($expr) AS clean FROM w""".stripMargin
  }

  /** Non-Latin injection for ns_script_profile, derived from ONE codepoint
    * list: the Spark side gets the literal string, the SQL side a chr()
    * chain (Spark's chr wraps at 256, so literals there; DuckDB's chr is
    * by codepoint, so chr() there survives any transport encoding).
    */
  private[graft] val scriptInjectCps: Seq[Int] =
    " привет 你好世界 αβ مرحبا カタ 가나 42"
      .codePoints.toArray.toSeq
  private[graft] def scriptInjectLit: Column =
    lit(new String(scriptInjectCps.toArray, 0, scriptInjectCps.length))
  private[graft] def scriptInjectSqlExpr: String =
    scriptInjectCps.map(c => s"chr($c)").mkString(" || ")

  /** DuckDB replay of [[graft.ops.TextAnalysis.scriptProfile]], generated
    * from the same ScriptClasses table (Java `\\uXXXX` range escapes become
    * RE2 `\\x{XXXX}`). Dominant = first name in alphabetical order hitting
    * the row max (the fold's strict-> keeps the earliest on ties).
    */
  private[graft] def scriptProfileSql: String = {
    val classes = graft.ops.TextAnalysis.ScriptClasses
    val names = classes.map(_._1) :+ "other"
    def re2(cls: String): String =
      cls.replaceAll("\\\\u([0-9A-Fa-f]{4})", "\\\\x{$1}")
    val countCols = classes.map { case (name, cls) =>
      s"CAST(len(regexp_extract_all(t, '${re2(cls)}')) AS BIGINT) AS n_$name"
    }
    val known = classes.map { case (n, _) => s"n_$n" }.mkString(" + ")
    val pmCols = names.map(n =>
      s"CAST((n_$n * 1000) // greatest(n_chars, 1) AS INT) AS pm_$n")
    val maxExpr = s"greatest(${names.map(n => s"n_$n").mkString(", ")})"
    val domCases = names.init.map(n => s"WHEN n_$n = __m THEN '$n'").mkString(" ")
    s"""WITH c AS (SELECT doc_id, text || $scriptInjectSqlExpr AS t FROM documents),
       |n AS (SELECT doc_id,
       |  ${countCols.mkString(",\n  ")},
       |  CAST(length(regexp_replace(t, '\\s', '', 'g')) AS BIGINT) AS n_chars FROM c),
       |o AS (SELECT *, n_chars - ($known) AS n_other FROM n),
       |m AS (SELECT *, $maxExpr AS __m FROM o)
       |SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")}, n_chars,
       |  ${pmCols.mkString(",\n  ")},
       |  CASE WHEN n_chars = 0 THEN 'other' $domCases ELSE 'other' END AS dominant_script
       |FROM m""".stripMargin
  }

  private[graft] def minhashSigCtes: String =
    s"""tk AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
       |), gr AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END AS grams
       |  FROM tk
       |), hh AS (
       |  SELECT doc_id, list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::UBIGINT & 2147483647) AS hs FROM gr
       |), sg AS (
       |  SELECT doc_id, $minhashSigSql AS sig FROM hh
       |)""".stripMargin

  /** est_jaccard + "some full band equal" over sg-aliased a/b — the pair
    * predicate both minhash oracles share.
    */
  private[graft] val minhashEstSql = "len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0"
  private[graft] val minhashBandEqSql =
    """len(list_filter(range(0, 16), bb ->
      |        len(list_filter(range(1, 5), r -> a.sig[bb*4 + r] = b.sig[bb*4 + r])) = 4)) > 0""".stripMargin
  private[graft] val minhashPairPredSql =
    s"""$minhashBandEqSql
       |  AND $minhashEstSql >= 0.5""".stripMargin

  /** Shared eval-metric pair frame (ns_bleu / ns_rouge / ns_chrf): even
    * doc ids pair a 40-token truncation of the doc against the doc itself
    * (high overlap — exercises the clipped-count path), odd ids pair the
    * doc against its successor (low overlap — the realistic regime). One
    * definition + one SQL twin so the three gates share one pair source
    * and cannot drift.
    */
  private[graft] def evalPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // both sides bound to the first 60 tokens — the gate-cost convention
    // (the ANN gates' vec_id bound): caps the gram volume without
    // touching what the gates prove; ScaleProbe measures the ops on
    // FULL-LENGTH texts
    def tr(c: Column): Column =
      concat_ws(" ", slice(wordsOf(c), 1, 60))
    val a = docs.select(col("doc_id"), tr(col("text")).as("text"))
    val b = docs.select((col("doc_id") - 1L).as("doc_id"),
      tr(col("text")).as("__next"))
    a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
      when(col("doc_id") % 2 === 0,
        concat_ws(" ", slice(wordsOf(col("text")), 1, 40)))
        .otherwise(col("text")).as("cand"),
      when(col("doc_id") % 2 === 0, col("text")).otherwise(col("__next")).as("ref"))
      // gate-scale parallelism: the one-file toy scan is ONE partition,
      // and the gram generator amplifies each pair ~10³× — without this
      // pair-keyed spread the whole explode+partial-agg map stage runs
      // on a single task (measured: the dominant eval-gate cost). The
      // EXPLICIT partition count is load-bearing: AQE coalesces a
      // key-only repartition of 5k small rows straight back to one
      // partition (it cannot see the amplification downstream of the
      // generator); a user-specified numPartitions is exempt from
      // coalescing. At production scale the scan has natural splits and
      // this is the standard pre-amplification repartition.
      .repartition(s.sparkContext.defaultParallelism, col("pair_id"))
  }

  /** Shared multi-reference eval frame (ns_bleu_multiref /
    * ns_rouge_multiref / ns_chrf_multiref): candidate = the doc's
    * 40-token truncation; reference 1 = the doc's 60-token truncation
    * (high overlap — exercises the max-clip crediting the best
    * reference), reference 2 = the successor doc's (low overlap — the
    * closest-length BP pick is non-trivial because ref lengths differ).
    * One definition + one SQL twin, the [[evalPairs]] convention.
    */
  private[graft] def evalMultiRef(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    def tr(c: Column, k: Int): Column =
      concat_ws(" ", slice(wordsOf(c), 1, k))
    val a = docs.select(col("doc_id"), col("text"))
    val b = docs.select((col("doc_id") - 1L).as("doc_id"),
      col("text").as("__next"))
    val joined = a.join(b, "doc_id")
    // both frames feed gram generators — the evalPairs pre-amplification
    // spread applies to each
    val cands = joined
      .select(col("doc_id").as("pair_id"), tr(col("text"), 40).as("cand"))
      .repartition(s.sparkContext.defaultParallelism, col("pair_id"))
    val refs = joined
      .select(col("doc_id").as("pair_id"), explode(array(
        struct(lit(1L).as("ref_ord"), tr(col("text"), 60).as("ref")),
        struct(lit(2L).as("ref_ord"), tr(col("__next"), 60).as("ref"))))
        .as("__r"))
      .select(col("pair_id"), col("__r.ref_ord").as("ref_ord"),
        col("__r.ref").as("ref"))
      .repartition(s.sparkContext.defaultParallelism, col("pair_id"))
    (cands, refs)
  }

  /** SQL twin of [[evalMultiRef]] — ends with CTEs `cd(pair_id, cand)`
    * and `rf(pair_id, ref_ord, ref)`.
    */
  private[graft] val evalMultiRefSql =
    """mtr AS (SELECT doc_id,
      |  array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 60), ' ') AS t60,
      |  array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 40), ' ') AS t40
      |FROM documents),
      |cd AS (SELECT a.doc_id AS pair_id, a.t40 AS cand
      |  FROM mtr a JOIN mtr b ON b.doc_id = a.doc_id + 1),
      |rf AS (SELECT a.doc_id AS pair_id, CAST(1 AS BIGINT) AS ref_ord, a.t60 AS ref
      |    FROM mtr a JOIN mtr b ON b.doc_id = a.doc_id + 1
      |  UNION ALL
      |  SELECT a.doc_id, CAST(2 AS BIGINT), b.t60
      |    FROM mtr a JOIN mtr b ON b.doc_id = a.doc_id + 1)""".stripMargin

  /** Per-(pair, ref_ord, n) clipped word-n-gram counts over
    * [[evalMultiRefSql]]'s `cd`/`rf` — [[ngramCompSql]] with the
    * reference ordinal riding the key (the oracle twin of the
    * multiRefPairs composite-struct key). Ends with CTE `comp`
    * (pair_id, ref_ord, n, m, t, rt). Shared by the ROUGE and chrF
    * multi-reference oracles' word-gram sibling.
    */
  private[graft] def multiRefCompSql(maxN: Int): String = {
    val ns = (1 to maxN).mkString(", ")
    s"""jp AS (SELECT cd.pair_id, rf.ref_ord, cd.cand, rf.ref
       |  FROM cd JOIN rf USING (pair_id)),
       |tk AS MATERIALIZED (SELECT pair_id, ref_ord,
       |    list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\\s+'),
       |                x -> x <> '') AS ct,
       |    list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\\s+'),
       |                x -> x <> '') AS rt
       |  FROM jp),
       |ns AS (SELECT pair_id, ref_ord, ct, rt, CAST(unnest([$ns]) AS BIGINT) AS n FROM tk),
       |cgr AS (SELECT pair_id, ref_ord, n, unnest(list_transform(range(1, len(ct) - n + 2),
       |          i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))) AS gram FROM ns),
       |rgr AS (SELECT pair_id, ref_ord, n, unnest(list_transform(range(1, len(rt) - n + 2),
       |          i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))) AS gram FROM ns),
       |cc AS (SELECT pair_id, ref_ord, n, gram, count(*) AS c FROM cgr GROUP BY 1, 2, 3, 4),
       |rc AS (SELECT pair_id, ref_ord, n, gram, count(*) AS r FROM rgr GROUP BY 1, 2, 3, 4),
       |g AS (SELECT coalesce(cc.pair_id, rc.pair_id) AS pair_id,
       |        coalesce(cc.ref_ord, rc.ref_ord) AS ref_ord,
       |        coalesce(cc.n, rc.n) AS n, coalesce(cc.c, 0) AS c, coalesce(rc.r, 0) AS r
       |      FROM cc FULL JOIN rc ON cc.pair_id = rc.pair_id AND cc.ref_ord = rc.ref_ord
       |        AND cc.n = rc.n AND cc.gram = rc.gram),
       |comp AS (SELECT pair_id, ref_ord, n, CAST(sum(least(c, r)) AS BIGINT) AS m,
       |        CAST(sum(c) AS BIGINT) AS t, CAST(sum(r) AS BIGINT) AS rt
       |      FROM g GROUP BY 1, 2, 3)""".stripMargin
  }

  /** The per-metric max-over-references tail over a per-ref `pf` CTE
    * carrying (pair_id, n, the score columns) — shared by the ROUGE and
    * chrF multi-reference oracles.
    */
  private[graft] def maxOverRefsTailSql(scoreCols: Seq[String]): String =
    s"""SELECT pair_id, n, CAST(count(*) AS BIGINT) AS n_refs,
       |${scoreCols.map(c => s"  CAST(max($c) AS BIGINT) AS $c").mkString(",\n")}
       |FROM pf GROUP BY 1, 2""".stripMargin

  private[graft] val evalPairsSql =
    """tr AS (SELECT doc_id,
      |  array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 60), ' ') AS text
      |FROM documents),
      |p AS (SELECT a.doc_id AS pair_id,
      |  CASE WHEN a.doc_id % 2 = 0
      |       THEN array_to_string(list_slice(string_split_regex(trim(lower(a.text)), '\s+'), 1, 40), ' ')
      |       ELSE a.text END AS cand,
      |  CASE WHEN a.doc_id % 2 = 0 THEN a.text ELSE b.text END AS ref
      |FROM tr a JOIN tr b ON b.doc_id = a.doc_id + 1)""".stripMargin

  /** Per-(pair, n) clipped word-n-gram counts over [[evalPairsSql]]'s `p`
    * for n = 1..`maxN` — the oracle twin of
    * [[graft.ops.EvalMetrics.ngramOverlap]]; ends with CTE `comp`
    * (pair_id, n, m, t, rt).
    */
  private[graft] def ngramCompSql(maxN: Int): String = {
    val ns = (1 to maxN).mkString(", ")
    s"""tk AS MATERIALIZED (SELECT pair_id,
       |    list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\\s+'),
       |                x -> x <> '') AS ct,
       |    list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\\s+'),
       |                x -> x <> '') AS rt
       |  FROM p),
       |ns AS (SELECT pair_id, ct, rt, CAST(unnest([$ns]) AS BIGINT) AS n FROM tk),
       |cgr AS (SELECT pair_id, n, unnest(list_transform(range(1, len(ct) - n + 2),
       |          i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))) AS gram FROM ns),
       |rgr AS (SELECT pair_id, n, unnest(list_transform(range(1, len(rt) - n + 2),
       |          i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))) AS gram FROM ns),
       |cc AS (SELECT pair_id, n, gram, count(*) AS c FROM cgr GROUP BY 1, 2, 3),
       |rc AS (SELECT pair_id, n, gram, count(*) AS r FROM rgr GROUP BY 1, 2, 3),
       |g AS (SELECT coalesce(cc.pair_id, rc.pair_id) AS pair_id, coalesce(cc.n, rc.n) AS n,
       |        coalesce(cc.c, 0) AS c, coalesce(rc.r, 0) AS r
       |      FROM cc FULL JOIN rc ON cc.pair_id = rc.pair_id AND cc.n = rc.n AND cc.gram = rc.gram),
       |comp AS MATERIALIZED (SELECT pair_id, n, CAST(sum(least(c, r)) AS BIGINT) AS m,
       |        CAST(sum(c) AS BIGINT) AS t, CAST(sum(r) AS BIGINT) AS rt
       |      FROM g GROUP BY 1, 2)""".stripMargin
  }

  /** Corrected floor-isqrt∘isqrt 4th-root chain over a `pr` CTE carrying
    * `prod` — shared by every BLEU-geo oracle (per-pair and corpus) so
    * the root arithmetic is one fragment. Ends with CTE `s2` carrying
    * `geo` (BIGINT, NULL-propagating).
    */
  private[graft] val isqrtChainSql =
    """i1 AS (SELECT *, CAST(floor(sqrt(CAST(prod AS DOUBLE))) AS HUGEINT) AS r0 FROM pr),
      |c1 AS (SELECT *, CASE WHEN (r0 + 1) * (r0 + 1) <= prod THEN r0 + 1 ELSE r0 END AS r1 FROM i1),
      |s1 AS (SELECT *, CAST(CASE WHEN r1 * r1 > prod THEN r1 - 1 ELSE r1 END AS BIGINT) AS sq1 FROM c1),
      |i2 AS (SELECT *, CAST(floor(sqrt(CAST(sq1 AS DOUBLE))) AS HUGEINT) AS q0 FROM s1),
      |c2 AS (SELECT *, CASE WHEN (q0 + 1) * (q0 + 1) <= sq1 THEN q0 + 1 ELSE q0 END AS q1 FROM i2),
      |s2 AS (SELECT *, CAST(CASE WHEN q1 * q1 > sq1 THEN q1 - 1 ELSE q1 END AS BIGINT) AS geo FROM c2)""".stripMargin

  /** BLEU wide-pivot + staged floor-isqrt geo-mean over `tk` + `comp`
    * CTEs (both from [[ngramCompSql]](4)) — shared by the ns_bleu and
    * ns_self_bleu oracles so the component arithmetic cannot drift
    * between the reference-pair and self-pair gates. Ends with the final
    * SELECT (this fragment IS the query tail).
    */
  private[graft] val bleuTailSql =
    """wide AS (SELECT pair_id,
      |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1,
      |    CAST(coalesce(sum(CASE WHEN n = 1 THEN t END), 0) AS BIGINT) AS t1,
      |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
      |    CAST(coalesce(sum(CASE WHEN n = 2 THEN t END), 0) AS BIGINT) AS t2,
      |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3,
      |    CAST(coalesce(sum(CASE WHEN n = 3 THEN t END), 0) AS BIGINT) AS t3,
      |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4,
      |    CAST(coalesce(sum(CASE WHEN n = 4 THEN t END), 0) AS BIGINT) AS t4
      |  FROM comp GROUP BY 1),
      |lw AS (SELECT tk.pair_id, CAST(len(ct) AS BIGINT) AS cand_len,
      |    CAST(len(rt) AS BIGINT) AS ref_len,
      |    coalesce(m1, 0) AS m1, coalesce(t1, 0) AS t1, coalesce(m2, 0) AS m2,
      |    coalesce(t2, 0) AS t2, coalesce(m3, 0) AS m3, coalesce(t3, 0) AS t3,
      |    coalesce(m4, 0) AS m4, coalesce(t4, 0) AS t4
      |  FROM tk LEFT JOIN wide USING (pair_id)),
      |pp AS (SELECT *, CASE WHEN t1 > 0 THEN m1 * 1000 // t1 END AS p1,
      |    CASE WHEN t2 > 0 THEN m2 * 1000 // t2 END AS p2,
      |    CASE WHEN t3 > 0 THEN m3 * 1000 // t3 END AS p3,
      |    CASE WHEN t4 > 0 THEN m4 * 1000 // t4 END AS p4 FROM lw),
      |pr AS (SELECT *, p1 * p2 * p3 * p4 AS prod FROM pp),
      |__ISQRT__
      |SELECT pair_id, cand_len, ref_len,
      |  m1 AS matches_1, t1 AS total_1, m2 AS matches_2, t2 AS total_2,
      |  m3 AS matches_3, t3 AS total_3, m4 AS matches_4, t4 AS total_4,
      |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0 THEN geo END
      |    AS precision_geo_permille
      |FROM s2""".stripMargin.replace("__ISQRT__", isqrtChainSql)

  /** Self-BLEU pair frame oracle — replays
    * [[graft.ops.EvalMetrics.selfBleuPairs]] over 40-token-truncated
    * documents at peers = 2, seed "graft-selfbleu": portable-hash ring
    * rank, global per-peer ring offsets from the same hash family, ring
    * join. Ends with CTE `p` (pair_id, cand, ref), the [[ngramCompSql]]
    * input shape.
    */
  private[graft] val selfBleuPairsSql =
    """hd AS (SELECT doc_id AS id,
      |    array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1, 40), ' ') AS text,
      |    CAST(('0x' || substr(md5('graft-selfbleu|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS BIGINT) AS hv
      |  FROM documents),
      |rk AS MATERIALIZED (SELECT id, text,
      |    CAST(row_number() OVER (ORDER BY hv, id) - 1 AS BIGINT) AS pos FROM hd),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
      |oj AS (SELECT CAST(j AS BIGINT) AS peer_ord,
      |    CAST(1 + CAST(('0x' || substr(md5('graft-selfbleu-off|' || CAST(j AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS BIGINT) % (n - 1) AS BIGINT) AS o
      |  FROM (SELECT unnest([1, 2]) AS j), nn),
      |p AS (SELECT a.id * 2 + oj.peer_ord - 1 AS pair_id, a.text AS cand, b.text AS ref
      |  FROM rk a, oj, nn, rk b
      |  WHERE b.pos = (a.pos + oj.o) % nn.n)""".stripMargin

  /** 40-token truncated tokenization of the eval-pair CTE `p` — shared
    * by the ns_ter and ns_rouge_l oracles (the TER/ROUGE-L maxTokens
    * contract applied identically). Ends with CTE `tt` (pair_id, ct, rt).
    */
  private[graft] val tok40CteSql =
    """tt AS (SELECT pair_id,
      |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\s+'),
      |               x -> x <> ''), 1, 40) AS ct,
      |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\s+'),
      |               x -> x <> ''), 1, 40) AS rt
      |  FROM p)""".stripMargin

  /** The frozen Poisson(1) inverse-CDF CASE over a 31-bit draw `u` —
    * shared by every deterministic-bootstrap oracle (ns_bootstrap,
    * ns_paired_bootstrap, ns_paired_bootstrap_rouge) so the cut table
    * exists exactly once on the SQL side, mirroring
    * Profile.poissonWeight31 on the Spark side.
    */
  private[graft] val poissonCutCaseSql =
    """CASE WHEN u < 790015084 THEN 0 WHEN u < 1580030168 THEN 1
      |         WHEN u < 1975037710 THEN 2 WHEN u < 2106706891 THEN 3
      |         WHEN u < 2139624186 THEN 4 WHEN u < 2146207645 THEN 5
      |         ELSE 6 END""".stripMargin

  /** Corpus-BLEU pooling over ANY bleuComponents-schema oracle SQL
    * (DERIVED-oracle convention): wrap the base gate's full SQL as a
    * CTE, pool the components, and take the 4th root with the shared
    * isqrt chain — used by both ns_corpus_bleu (over ns_bleu) and
    * ns_corpus_self_bleu (over ns_self_bleu), so neither rollup can
    * drift from its per-pair gate nor from the other.
    */
  private[graft] def corpusBleuPoolSql(inner: String): String =
    s"""WITH b AS (
       |$inner
       |),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(coalesce(sum(cand_len), 0) AS BIGINT) AS cand_tokens,
       |    CAST(coalesce(sum(ref_len), 0) AS BIGINT) AS ref_tokens,
       |    CAST(coalesce(sum(matches_1), 0) AS BIGINT) AS m1,
       |    CAST(coalesce(sum(total_1), 0) AS BIGINT) AS t1,
       |    CAST(coalesce(sum(matches_2), 0) AS BIGINT) AS m2,
       |    CAST(coalesce(sum(total_2), 0) AS BIGINT) AS t2,
       |    CAST(coalesce(sum(matches_3), 0) AS BIGINT) AS m3,
       |    CAST(coalesce(sum(total_3), 0) AS BIGINT) AS t3,
       |    CAST(coalesce(sum(matches_4), 0) AS BIGINT) AS m4,
       |    CAST(coalesce(sum(total_4), 0) AS BIGINT) AS t4
       |  FROM b),
       |pp AS (SELECT *, CASE WHEN t1 > 0 THEN m1 * 1000 // t1 END AS p1,
       |    CASE WHEN t2 > 0 THEN m2 * 1000 // t2 END AS p2,
       |    CASE WHEN t3 > 0 THEN m3 * 1000 // t3 END AS p3,
       |    CASE WHEN t4 > 0 THEN m4 * 1000 // t4 END AS p4 FROM s),
       |pr AS (SELECT *, p1 * p2 * p3 * p4 AS prod FROM pp),
       |$isqrtChainSql
       |SELECT n_pairs, cand_tokens, ref_tokens,
       |  m1 AS matches_1, t1 AS total_1, m2 AS matches_2, t2 AS total_2,
       |  m3 AS matches_3, t3 AS total_3, m4 AS matches_4, t4 AS total_4,
       |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0 THEN geo END
       |    AS precision_geo_permille
       |FROM s2""".stripMargin

  /** Per-replicate pooled-geo CTE chain of the BLEU paired bootstrap
    * over ANY bleuComponents-schema oracle SQL `inner`, with the gate's
    * even/odd two-system construction and 32 replicates — ends with CTE
    * `reps(rep, ageo, bgeo, delta)`, the SQL twin of
    * [[graft.ops.EvalMetrics.pairedBootstrapBleuReplicates]]. Shared by
    * the verdict gate (ns_paired_bootstrap) and the CI gate
    * (ns_paired_bootstrap_ci): both REDUCE this one fragment, so the
    * win counts and the interval cannot drift from each other or from
    * ns_bleu's components.
    */
  private[graft] def bleuBootstrapRepsSql(inner: String): String = {
    def chain(p: String): String =
      s"""i${p}1 AS (SELECT *, CAST(floor(sqrt(CAST(${p}prod AS DOUBLE))) AS HUGEINT) AS ${p}r0 FROM ${if (p == "a") "pr" else "sa2"}),
         |c${p}1 AS (SELECT *, CASE WHEN (${p}r0 + 1) * (${p}r0 + 1) <= ${p}prod THEN ${p}r0 + 1 ELSE ${p}r0 END AS ${p}r1 FROM i${p}1),
         |s${p}1 AS (SELECT *, CAST(CASE WHEN ${p}r1 * ${p}r1 > ${p}prod THEN ${p}r1 - 1 ELSE ${p}r1 END AS BIGINT) AS ${p}sq1 FROM c${p}1),
         |i${p}2 AS (SELECT *, CAST(floor(sqrt(CAST(${p}sq1 AS DOUBLE))) AS HUGEINT) AS ${p}q0 FROM s${p}1),
         |c${p}2 AS (SELECT *, CASE WHEN (${p}q0 + 1) * (${p}q0 + 1) <= ${p}sq1 THEN ${p}q0 + 1 ELSE ${p}q0 END AS ${p}q1 FROM i${p}2),
         |s${p}2 AS (SELECT *, CAST(CASE WHEN ${p}q1 * ${p}q1 > ${p}sq1 THEN ${p}q1 - 1 ELSE ${p}q1 END AS BIGINT) AS ${p}geo FROM c${p}2)""".stripMargin
    val sideCols = (p: String) => (1 to 4).flatMap(n => Seq(
      s"matches_$n AS ${p}m$n", s"total_$n AS ${p}t$n")).mkString(", ")
    s"""WITH c AS (
       |$inner
       |),
       |a AS (SELECT pair_id, ${sideCols("a")} FROM c WHERE pair_id % 2 = 0),
       |b AS (SELECT pair_id - 1 AS pair_id, ${sideCols("b")} FROM c WHERE pair_id % 2 = 1),
       |j AS (SELECT * FROM a JOIN b USING (pair_id)),
       |r AS (SELECT j.*, CAST(unnest(range(1, 33)) AS BIGINT) AS rep FROM j),
       |wu AS (SELECT *, ('0x' || substr(md5('graft-boot|' || CAST(pair_id AS VARCHAR) ||
       |         '|' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS u FROM r),
       |ww AS (SELECT *, $poissonCutCaseSql AS w FROM wu),
       |g AS (SELECT rep,
       |${(for { p <- Seq("a", "b"); n <- 1 to 4; cc <- Seq("m", "t") }
         yield s"    CAST(sum(w * $p$cc$n) AS BIGINT) AS $p$cc$n").mkString(",\n")}
       |  FROM ww GROUP BY rep),
       |pp AS (SELECT *,
       |${(for { p <- Seq("a", "b"); n <- 1 to 4 }
         yield s"    CASE WHEN ${p}t$n > 0 THEN ${p}m$n * 1000 // ${p}t$n END AS p$p$n").mkString(",\n")}
       |  FROM g),
       |pr AS (SELECT *,
       |    CASE WHEN at1 > 0 AND at2 > 0 AND at3 > 0 AND at4 > 0
       |         THEN pa1 * pa2 * pa3 * pa4 END AS aprod,
       |    CASE WHEN bt1 > 0 AND bt2 > 0 AND bt3 > 0 AND bt4 > 0
       |         THEN pb1 * pb2 * pb3 * pb4 END AS bprod
       |  FROM pp),
       |${chain("a")},
       |${chain("b")},
       |reps AS (SELECT rep, ageo, bgeo,
       |    CASE WHEN ageo IS NOT NULL AND bgeo IS NOT NULL
       |         THEN ageo - bgeo END AS delta
       |  FROM sb2)""".stripMargin
  }

  /** Per-replicate frame of the metric-agnostic paired bootstrap over a
    * (pair_id, f1_permille) oracle SQL `inner` (the even/odd gate
    * construction, 32 replicates) — ends with CTE `reps(rep, n_pairs,
    * w_sum, sum_a, sum_b, delta_milli)`, the twin of
    * [[graft.ops.EvalMetrics.pairedBootstrapMetricReplicates]]. Shared
    * by ns_paired_bootstrap_rouge (verdict) and its CI gate.
    */
  private[graft] def metricBootstrapRepsSql(inner: String): String =
    s"""WITH c AS (
       |$inner
       |),
       |a AS (SELECT pair_id, f1_permille AS ma FROM c WHERE pair_id % 2 = 0),
       |b AS (SELECT pair_id - 1 AS pair_id, f1_permille AS mb FROM c WHERE pair_id % 2 = 1),
       |j AS (SELECT * FROM a JOIN b USING (pair_id)
       |      WHERE ma IS NOT NULL AND mb IS NOT NULL),
       |r AS (SELECT j.*, CAST(unnest(range(1, 33)) AS BIGINT) AS rep FROM j),
       |wu AS (SELECT *, ('0x' || substr(md5('graft-boot|' || CAST(pair_id AS VARCHAR) ||
       |         '|' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS u FROM r),
       |ww AS (SELECT *, $poissonCutCaseSql AS w FROM wu),
       |g AS (SELECT rep, CAST(sum(w) AS BIGINT) AS n,
       |        CAST(count(*) AS BIGINT) AS pairs,
       |        sum(w * ma) AS sa, sum(w * mb) AS sb
       |      FROM ww GROUP BY rep),
       |reps AS (SELECT rep, pairs AS n_pairs, n AS w_sum, sa, sb,
       |    CASE WHEN n > 0 THEN CAST(((sa - sb) * 1000) // n AS BIGINT)
       |    END AS delta_milli
       |  FROM g)""".stripMargin

  /** The order-statistics CI tail over a `reps` CTE — the SQL twin of
    * [[graft.ops.EvalMetrics.bootstrapDeltaCi]] at dropPermille = 25
    * (Koehn's 95%): sort the defined deltas, drop 25‰ each side, read
    * the bounds and the lower median. Shared by both CI gates.
    */
  private[graft] def bootstrapCiTailSql(deltaCol: String): String =
    s"""ds AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates,
       |    list_sort(list($deltaCol) FILTER (WHERE $deltaCol IS NOT NULL)) AS l
       |  FROM reps),
       |dd AS (SELECT n_replicates, CAST(len(l) AS BIGINT) AS defined,
       |    (CAST(len(l) AS BIGINT) * 25) // 1000 AS drop_each_side, l FROM ds)
       |SELECT n_replicates, defined, drop_each_side,
       |  CASE WHEN defined > 0 THEN l[CAST(drop_each_side + 1 AS INT)] END AS delta_lo,
       |  CASE WHEN defined > 0 THEN l[CAST(defined - drop_each_side AS INT)] END AS delta_hi,
       |  CASE WHEN defined > 0 THEN l[CAST((defined + 1) // 2 AS INT)] END AS delta_median
       |FROM dd""".stripMargin

  /** Per-n corpus pooling over a per-pair component CTE `c` (matches /
    * cand_total / ref_total, long by n) — shared by the ns_corpus_chrf
    * and ns_corpus_rouge_n derived oracles: sums first, then the same
    * permille ratios as the pair rows. Ends with CTE `pooled`.
    */
  private[graft] val pooledPrfByNSql =
    """s AS (SELECT n, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(coalesce(sum(matches), 0) AS BIGINT) AS matches,
      |    CAST(coalesce(sum(cand_total), 0) AS BIGINT) AS cand_total,
      |    CAST(coalesce(sum(ref_total), 0) AS BIGINT) AS ref_total
      |  FROM c GROUP BY n),
      |pooled AS (SELECT *,
      |    CASE WHEN cand_total > 0 THEN matches * 1000 // cand_total END AS precision_permille,
      |    CASE WHEN ref_total > 0 THEN matches * 1000 // ref_total END AS recall_permille
      |  FROM s)""".stripMargin

  /** The permille F-β select item over precision_permille and
    * recall_permille, `b2` = β² (1 → f1_permille, 4 → f2_permille): the
    * oracle side of [[graft.functions.exact.fBeta]], one line so it can sit
    * inside any stripMargin'd query.
    */
  private[graft] def fBetaSql(b2: Int): String = {
    val wp = if (b2 == 1) "precision_permille" else s"precision_permille * $b2"
    "CASE WHEN precision_permille IS NOT NULL AND recall_permille IS NOT NULL " +
      s"AND $wp + recall_permille > 0 THEN precision_permille * recall_permille * ${b2 + 1} " +
      s"// ($wp + recall_permille) END AS f${math.round(math.sqrt(b2.toDouble))}_permille"
  }

  /** P/R permille over a `comp`-shaped CTE — shared by the ns_rouge and
    * ns_chrf oracles so the ratio arithmetic cannot drift between them.
    */
  private[graft] val prfCteSql =
    """prf AS (SELECT pair_id, n, m AS matches, t AS cand_total, rt AS ref_total,
      |    CASE WHEN t > 0 THEN m * 1000 // t END AS precision_permille,
      |    CASE WHEN rt > 0 THEN m * 1000 // rt END AS recall_permille
      |  FROM comp)""".stripMargin

  /** Exact cosine top-k oracle — shared by ns_embed_topk and by the ANN
    * queries (which run in provably-exhaustive probe mode, so their output
    * must equal exact top-k: brute force, LSH, and IVF are mutually gated).
    */
  private[graft] val exactTopKSql =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 50),
      |     c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 1000)
      |SELECT query_id, neighbor_id, rank FROM (
      |  SELECT q.qid AS query_id, c.nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY q.qid
      |           ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.nid) AS rank
      |  FROM q JOIN c ON q.qid != c.nid)
      |WHERE rank <= 5""".stripMargin

  /** Integer-exact replay of MediaPHashExpr (60-bit perceptual hash) for
    * the media gate queries: per-position-class byte sums → strict
    * `60·acc > total` threshold bits. Gate data is ASCII, so
    * `ascii(substr(text, i+1, 1))` equals the payload byte.
    */
  private[graft] val phashCteSql =
    """WITH pos AS (
      |  SELECT doc_id, CAST(i % 60 AS INT) AS d,
      |         ascii(substr(text, CAST(i + 1 AS INT), 1))::BIGINT AS v
      |  FROM (SELECT doc_id, text, unnest(range(length(text))) AS i FROM documents)
      |), acc AS (
      |  SELECT doc_id, d, sum(v)::BIGINT AS s FROM pos GROUP BY 1, 2
      |), tot AS (
      |  SELECT doc_id, sum(s)::BIGINT AS t FROM acc GROUP BY 1
      |), bits0 AS (
      |  SELECT a.doc_id,
      |         sum(CASE WHEN 60 * a.s > t.t THEN (1::BIGINT << a.d) ELSE 0 END)::BIGINT AS phash
      |  FROM acc a JOIN tot t USING (doc_id) GROUP BY 1
      |), bits AS (
      |  SELECT d.doc_id, coalesce(b.phash, 0)::BIGINT AS phash
      |  FROM documents d LEFT JOIN bits0 b USING (doc_id)
      |)""".stripMargin

  /** DuckDB-equivalent SQL per query (same tables, same column names). */

  /** Oracle SQL replaying [[graft.ops.Curation.insertCanaries]] over the
    * documents table (portable md5 hash convention for selection, token,
    * and position; list splice for the insertion). Shared by the insert
    * and recall gates so they cannot drift.
    */
  private[graft] def canaryInsertSql(ratePermille: Int): String = {
    def h(seed: String) =
      s"(('0x' || substr(md5('$seed|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT & 2147483647)"
    s"""WITH t0 AS (
       |  SELECT doc_id, text,
       |    string_split_regex(trim(text), '\\s+') AS toks,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n,
       |    text IS NOT NULL AND ${h("graft-canary-select")} % 1000 < $ratePermille AS sel,
       |    'GRAFT-CANARY-' || CAST(CAST(${h("graft-canary-token")} AS BIGINT) * 2147483648
       |                            + CAST(${h("graft-canary-token2")} AS BIGINT) AS VARCHAR) AS ctok
       |  FROM documents),
       |t1 AS (SELECT *, CAST(${h("graft-canary-pos")} % (n + 1) AS BIGINT) AS p FROM t0)
       |SELECT doc_id,
       |  CASE WHEN sel THEN array_to_string(
       |         list_slice(toks, 1, p) || [ctok] || list_slice(toks, p + 1, n), ' ')
       |       ELSE text END AS text_out,
       |  sel AS has_canary,
       |  CASE WHEN sel THEN ctok END AS canary
       |FROM t1""".stripMargin
  }

  /** Oracle SQL for [[graft.ops.TextAnalysis.langSegments]], GENERATED
    * from `TextAnalysis.LangMarkers` (the marker lists interpolate from
    * the same definitions the operator evaluates, so the gate cannot
    * drift from the model — the qualityFilterSql convention). Per-chunk
    * langId replays as list_filter marker counts with the alphabetical
    * tie CASE; the mixture rollup replays as list_filter counts over the
    * predicted-segment list.
    */
  private[graft] def langSegmentsSql(k: Int): String = {
    val markers = graft.ops.TextAnalysis.LangMarkers.toSeq.sortBy(_._1)
    val codes = (markers.map(_._1) :+ "und").sorted
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    // per-chunk score per language — the chunk slice inlines into every
    // list_filter because DuckDB lambdas cannot hold subqueries; only the
    // oracle pays the repetition
    val chunk = s"list_slice(toks, i * $k + 1, least((i + 1) * $k, n_tokens))"
    val scores = markers.map { case (_, ws) =>
      s"len(list_filter($chunk, x -> x IN (${inList(ws)})))"
    }
    val best = s"greatest(${scores.mkString(", ")})"
    val pickCases = markers.zipWithIndex.map { case ((code, _), i) =>
      s"WHEN ${scores(i)} = $best THEN '$code'"
    }.mkString(" ")
    val segLang = s"CASE WHEN $best = 0 THEN 'und' $pickCases END"
    val perCode = codes.map(c =>
      s"len(list_filter(segs, x -> x = '$c')) AS n_$c").mkString(",\n        ")
    val topN = s"greatest(${codes.map(c => s"n_$c").mkString(", ")})"
    val topCases = codes.map(c => s"WHEN n_$c = top_n THEN '$c'").mkString(" ")
    val nLangs = codes.map(c => s"CASE WHEN n_$c > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CAST((n_tokens + ${k - 1}) // $k AS BIGINT) AS n_segments,
       |    CASE WHEN n_tokens = 0 THEN CAST([] AS VARCHAR[])
       |      ELSE list_transform(range((n_tokens + ${k - 1}) // $k),
       |        i -> $segLang)
       |      END AS segs
       |  FROM d),
       |cts AS (
       |  SELECT doc_id, n_tokens, n_segments,
       |        $perCode
       |  FROM s),
       |top AS (SELECT *, $topN AS top_n FROM cts)
       |SELECT doc_id, n_tokens, n_segments,
       |  CAST($nLangs AS BIGINT) AS n_langs,
       |  CASE WHEN n_segments = 0 THEN NULL $topCases END AS top_lang,
       |  CASE WHEN n_segments = 0 THEN NULL ELSE CAST(top_n AS BIGINT) END AS top_n,
       |  CASE WHEN n_segments = 0 THEN NULL
       |       ELSE CAST((top_n * 1000) // n_segments AS BIGINT) END AS top_share_permille,
       |  ($nLangs) > 1 AS switched
       |FROM top""".stripMargin
  }
}
