package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Spark-native eventsim: the reference's synthetic JSON event generator
  * (/root/reference/internal/pkg/entity/eventsim/eventsim.go) re-expressed
  * as generator *expressions* over `spark.range` / the rate streaming
  * source — fully distributed, no driver-side event loop.
  *
  * Capabilities mirrored:
  *   - trigger model: every simResolutionMilliseconds emit K events where K
  *     is uniform(minCount,maxCount), a sinusoid over time (periodSeconds,
  *     peakTime — eventsim.go:409-420), or 1
  *   - field generators (eventsim.go:423-624): randomized int/float (fixed
  *     fraction digits)/string (charset, length range)/bool/isoTimestamp
  *     millis+micros (jitter)/uuid; weighted predefinedValues via
  *     precompiled CDF ranges; setOfStrings high-cardinality dimensions
  *     (with optional per-value frequency weights and excluded values);
  *     nested field paths ("foo.bar"); conditional overrides rewriting
  *     fields when another field holds a given value (eventsim.go:376-396)
  *
  * Deterministic by construction: all randomness derives from
  * xxhash64(rowId, seed, fieldIndex), so the same (spec, seed, triggers)
  * produce identical events on any cluster layout — unlike the reference's
  * wall-clock rand, which its own tests work around. Batch mode powers the
  * correctness harness; `stream` produces the same schema from the
  * built-in, epoch-anchored `rate-micro-batch` source for runtime use.
  */
object EventSim {

  // ------------------------------------------------------------ spec model

  final case class EventGeneration(
      genType: String = "",
      minCount: Int = 0,
      maxCount: Int = 0,
      periodSeconds: Int = 0,
      peakTime: String = "")

  final case class PredefinedValue(valueJson: String, frequencyFactor: Int)

  final case class RandomizedValue(
      rvType: String,
      min: Double = 0,
      max: Double = 0,
      charset: String = "",
      maxFractionDigits: Int = 2,
      jitterMilliseconds: Int = 0)

  final case class SetOfStrings(
      amount: Int,
      prefix: String,
      frequencyMin: Int = 0,
      frequencyMax: Int = 0,
      excludeValues: Seq[String] = Nil)

  final case class FieldSpec(
      field: String,
      predefinedValues: Seq[PredefinedValue] = Nil,
      randomizedValue: Option[RandomizedValue] = None,
      setOfStrings: Option[SetOfStrings] = None)

  final case class Override(
      disabled: Boolean,
      conditionField: String,
      conditionValue: String,
      fields: Seq[FieldSpec])

  final case class SimSpec(
      simResolutionMilliseconds: Int = 5000,
      eventGeneration: EventGeneration = EventGeneration(),
      fields: Seq[FieldSpec] = Nil,
      overrides: Seq[Override] = Nil,
      charsets: Map[String, String] = Map.empty)

  private val mapper = new ObjectMapper()

  /** Parse the `source.config.customConfig` eventsim block; a sinusoid
    * without a positive period or with an unparseable peakTime throws.
    */
  def parseSpec(json: String): SimSpec = fromNode(mapper.readTree(json))

  def fromNode(n: JsonNode): SimSpec = {
    def i(node: JsonNode, f: String, d: Int = 0): Int =
      Option(node.get(f)).filterNot(_.isNull).map(_.asInt(d)).getOrElse(d)
    def s(node: JsonNode, f: String): String =
      Option(node.get(f)).filterNot(_.isNull).map(_.asText("")).getOrElse("")
    def d(node: JsonNode, f: String): Double =
      Option(node.get(f)).filterNot(_.isNull).map(_.asDouble(0)).getOrElse(0.0)

    def parseFields(arr: JsonNode): Seq[FieldSpec] =
      if (arr == null) Nil
      else arr.elements().asScala.map { f =>
        FieldSpec(
          field = s(f, "field"),
          predefinedValues = Option(f.get("predefinedValues")).map(_.elements().asScala.map { pv =>
            PredefinedValue(
              valueJson = Option(pv.get("value")).map(_.toString).getOrElse("null"),
              frequencyFactor = math.max(1, i(pv, "frequencyFactor", 1)))
          }.toSeq).getOrElse(Nil),
          randomizedValue = Option(f.get("randomizedValue")).map { rv =>
            RandomizedValue(s(rv, "type"), d(rv, "min"), d(rv, "max"), s(rv, "charset"),
              if (i(rv, "maxFractionDigits") <= 0) 2 else i(rv, "maxFractionDigits"),
              i(rv, "jitterMilliseconds"))
          },
          setOfStrings = Option(f.get("setOfStrings")).map { ss =>
            SetOfStrings(i(ss, "amount"), s(ss, "prefix"), i(ss, "frequencyMin"),
              i(ss, "frequencyMax"),
              Option(ss.get("excludeValues")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
          })
      }.toSeq

    val sim = SimSpec(
      simResolutionMilliseconds = {
        val v = i(n, "simResolutionMilliseconds"); if (v <= 0) 5000 else v
      },
      eventGeneration = Option(n.get("eventGeneration")).map { eg =>
        EventGeneration(s(eg, "type"), i(eg, "minCount"), i(eg, "maxCount"),
          i(eg, "periodSeconds"), s(eg, "peakTime"))
      }.getOrElse(EventGeneration()),
      fields = parseFields(Option(n.get("eventSpec")).map(_.get("fields")).orNull),
      overrides = Option(n.get("overrides")).map(_.elements().asScala.map { o =>
        val cond = o.get("condition")
        Override(
          disabled = Option(o.get("disabled")).exists(_.asBoolean(false)),
          conditionField = if (cond == null) "" else s(cond, "field"),
          conditionValue = if (cond == null) "" else s(cond, "value"),
          fields = parseFields(o.get("fields")))
      }.toSeq).getOrElse(Nil)
    )
    val eg = sim.eventGeneration
    if (eg.genType == "sinusoid") {
      require(eg.periodSeconds > 0, "sinusoid requires positive periodSeconds")
      if (eg.peakTime.nonEmpty) java.time.Instant.parse(eg.peakTime) // throws on bad format
    }
    sim
  }

  // --------------------------------------------------------- generators

  private val DefaultCharset = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  /** Scala mirror of the Column-side u01: identical hash chain
    * (org.apache.spark.sql.catalyst.expressions.XXH64 with default seed 42)
    * so driver-side trigger counts equal executor-side expressions.
    */
  private[sources] def u01Scala(x: Long, seed: Long, salt: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashLong(x, 42L)
    h = XXH64.hashLong(seed, h)
    h = XXH64.hashLong(salt.toLong, h)
    java.lang.Math.floorMod(h, 1000000007L).toDouble / 1000000007.0
  }

  /** Uniform double in [0,1) derived from (rowId, seed, salt) — the
    * deterministic replacement for rand.Float64().
    */
  private def u01(rowId: Column, seed: Long, salt: Int): Column =
    (pmod(xxhash64(rowId, lit(seed), lit(salt)), lit(1000000007L)).cast("double") / lit(1000000007.0))

  /** JSON text of one generated field value (reference value semantics:
    * floats printed with fixed fraction digits, eventsim.go:514-526).
    */
  private def valueJson(f: FieldSpec, rowId: Column, ts: Column, seed: Long, salt: Int,
      charsets: Map[String, String]): Column = {
    val u = u01(rowId, seed, salt)
    f.predefinedValues match {
      case pvs if pvs.nonEmpty =>
        // precompiled CDF ranges (eventsim.go:575-624)
        val total = pvs.map(_.frequencyFactor).sum.toDouble
        var acc = 0.0
        val cases = pvs.map { pv =>
          acc += pv.frequencyFactor
          (acc / total, pv.valueJson)
        }
        cases.init.foldRight(lit(cases.last._2): Column) { case ((cum, vj), els) =>
          when(u < cum, lit(vj)).otherwise(els)
        }
      case _ =>
        f.setOfStrings match {
          case Some(ss) =>
            val values = (1 to ss.amount).map(n => s"${ss.prefix}$n")
              .filterNot(ss.excludeValues.contains)
            if (ss.frequencyMin < ss.frequencyMax) {
              // per-value deterministic weight in [freqMin, freqMax]
              val rnd = new scala.util.Random(seed + salt)
              val weights = values.map(_ => ss.frequencyMin + rnd.nextInt(ss.frequencyMax - ss.frequencyMin + 1))
              val total = weights.sum.toDouble
              var acc = 0.0
              val cases = values.zip(weights).map { case (v, w) =>
                acc += w; (acc / total, "\"" + v + "\"")
              }
              cases.init.foldRight(lit(cases.last._2): Column) { case ((cum, vj), els) =>
                when(u < cum, lit(vj)).otherwise(els)
              }
            } else if (ss.excludeValues.isEmpty) {
              // fast path: value text derives from the index directly
              concat(lit("\"" + ss.prefix), (floor(u * values.size) + 1).cast("long"), lit("\""))
            } else {
              // exclusions present: index into the filtered value list
              concat(lit("\""),
                element_at(array(values.map(lit): _*), (floor(u * values.size) + 1).cast("int")),
                lit("\""))
            }
          case None =>
            val rv = f.randomizedValue.getOrElse(RandomizedValue("string"))
            rv.rvType match {
              case "int" | "integer" =>
                (lit(rv.min) + floor(u * (lit(rv.max) + 1 - lit(rv.min)))).cast("long").cast("string")
              case "float" =>
                // fixed fraction digits, no FP noise (decimal-formatted)
                format_string(s"%.${rv.maxFractionDigits}f",
                  round(lit(rv.min) + u * (lit(rv.max) - lit(rv.min)), rv.maxFractionDigits))
              case "bool" =>
                when(u < 0.5, lit("true")).otherwise(lit("false"))
              case "isoTimestampMilliseconds" =>
                concat(lit("\""), date_format(jittered(ts, rv.jitterMilliseconds, rowId, seed, salt),
                  "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"), lit("\""))
              case "isoTimestampMicroseconds" =>
                concat(lit("\""), date_format(jittered(ts, rv.jitterMilliseconds, rowId, seed, salt),
                  "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), lit("\""))
              case "uuid" =>
                val h1 = lpad(hex(xxhash64(rowId, lit(seed), lit(salt))), 16, "0")
                val h2 = lpad(hex(xxhash64(rowId, lit(seed), lit(salt + 7919))), 16, "0")
                concat(lit("\""), lower(concat(
                  substring(h1, 1, 8), lit("-"), substring(h1, 9, 4), lit("-"),
                  substring(h1, 13, 4), lit("-"), substring(h2, 1, 4), lit("-"),
                  substring(h2, 5, 12))), lit("\""))
              case _ => // "string": random chars from charset, length in [min,max]
                val cs = charsets.getOrElse(rv.charset, DefaultCharset)
                val len = (lit(rv.min) + floor(u * (lit(rv.max) + 1 - lit(rv.min)))).cast("int")
                val chars = transform(sequence(lit(1), greatest(len, lit(0))),
                  i => element_at(split(lit(cs), ""),
                    (pmod(xxhash64(rowId, lit(seed), lit(salt), i), lit(cs.length)) + 1).cast("int")))
                concat(lit("\""), array_join(chars, ""), lit("\""))
            }
        }
    }
  }

  /** timestamp ± uniform jitter (eventsim.go:545-562). */
  private def jittered(ts: Column, jitterMillis: Int, rowId: Column, seed: Long, salt: Int): Column =
    if (jitterMillis == 0) ts
    else timestamp_millis(unix_millis(ts) +
      (u01(rowId, seed, salt + 104729) * (2 * jitterMillis)).cast("long") - jitterMillis)

  /** Assemble the JSON document from (sjson-path, valueJson) pairs.
    * Nested paths ("foo.bar") build nested objects; field order follows the
    * spec like sjson does.
    */
  private def assembleJson(pairs: Seq[(String, Column)]): Column = {
    // group paths by head segment, preserving first-seen order
    val heads = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(List[String], Column)]]
    pairs.foreach { case (path, v) =>
      val segs = path.split("\\.").toList
      heads(segs.head) = heads.getOrElse(segs.head, Vector.empty) :+ ((segs.tail, v))
    }
    val parts: Seq[Column] = heads.toSeq.map { case (key, subs) =>
      val valueCol =
        if (subs.exists(_._1.isEmpty)) subs.find(_._1.isEmpty).get._2 // leaf wins
        else assembleJson(subs.map { case (rest, v) => (rest.mkString("."), v) })
      concat(lit("\"" + key + "\":"), valueCol)
    }
    concat(lit("{"), concat_ws(",", parts: _*), lit("}"))
  }

  /** Per-trigger event count (eventsim.go:398-420), computed as a pure
    * function of the trigger index so batch and streaming agree.
    */
  def eventCount(spec: SimSpec, triggerIdx: Long, baseTimeMs: Long, seed: Long): Int = {
    val g = spec.eventGeneration
    g.genType match {
      case "random" =>
        // same hash chain as the Column-side u01 (xxhash64 with default
        // seed 42, then seed, then salt 31) so batch and streaming agree
        val u = u01Scala(triggerIdx, seed, 31)
        g.minCount + (u * (g.maxCount + 1 - g.minCount)).toInt
      case "sinusoid" =>
        val peakMs =
          if (g.peakTime.isEmpty) 0L // matches the streaming default (epoch)
          else java.time.Instant.parse(g.peakTime).toEpochMilli
        val tMs = baseTimeMs + triggerIdx * spec.simResolutionMilliseconds
        val angle = ((tMs - peakMs) / 1000.0) / g.periodSeconds * 2 * math.Pi
        math.round((math.cos(angle) + 1) / 2 * (g.maxCount - g.minCount) + g.minCount).toInt
      case _ => 1
    }
  }

  /** Batch generation: `triggers` simulation ticks starting at `baseTime`.
    * Output: (trigger LONG, ts TIMESTAMP, value STRING json).
    * Driver holds only the per-trigger count list (triggers entries);
    * event generation is distributed over spark.range.
    */
  def batch(spark: SparkSession, spec: SimSpec, triggers: Int,
      baseTime: java.time.Instant, seed: Long): DataFrame = {
    val baseMs = baseTime.toEpochMilli
    val counts = (0 until triggers).map(i => eventCount(spec, i, baseMs, seed).toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    // map rowId → trigger via precomputed offsets (small broadcast literal)
    val offsetsArr = array(offsets.init.map(lit): _*)
    val rows = spark.range(total).toDF("id")
      .withColumn("trigger",
        aggregate(offsetsArr, lit(-1L),
          (acc, off) => when(col("id") >= off, acc + 1).otherwise(acc)))
      .withColumn("ts", timestamp_millis(lit(baseMs) + col("trigger") * spec.simResolutionMilliseconds))
    withGeneratedJson(rows, spec, seed)
  }

  /** Streaming generation over Spark's built-in `rate-micro-batch` source:
    * same schema and generators; trigger index derives from the tick
    * stream's value column. Sinusoid/random modulation drops excess rows
    * of each trigger's allotment — a narrow filter, fully distributed.
    *
    * The source emits `rowsPerBatch` ticks per micro-batch and stamps
    * micro-batch b with `startTimestamp + b * advanceMillisPerBatch`;
    * `startTimestamp` stays at its default, the epoch, so replays are
    * bit-deterministic and a uniform-rate stream equals [[batch]] at
    * `Instant.EPOCH` row-for-row (ScalaTest-gated). Offsets checkpoint the
    * tick index, so a restarted query resumes the clock where it stopped.
    */
  def stream(spark: SparkSession, spec: SimSpec, seed: Long): DataFrame = {
    val maxPerTrigger = math.max(1, math.max(spec.eventGeneration.maxCount, 1))
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", maxPerTrigger)
      // source time advances by one sim resolution per micro-batch, so the
      // sinusoid phase matches the batch generator's trigger clock
      .option("advanceMillisPerBatch", spec.simResolutionMilliseconds)
      .load() // value: LONG, timestamp: TIMESTAMP
    val rows = src
      .withColumn("trigger", expr(s"value div $maxPerTrigger"))
      .withColumn("slot", pmod(col("value"), lit(maxPerTrigger)))
      .withColumn("__cnt", sinusoidCountCol(spec, col("trigger"), col("timestamp"), seed))
      .filter(col("slot") < col("__cnt"))
      .withColumn("id", col("value"))
      .withColumn("ts", col("timestamp"))
    withGeneratedJson(rows, spec, seed).select("trigger", "ts", "value")
  }

  /** Column form of eventCount for streaming. */
  private def sinusoidCountCol(spec: SimSpec, trigger: Column, ts: Column, seed: Long): Column = {
    val g = spec.eventGeneration
    g.genType match {
      case "random" =>
        lit(g.minCount) + floor(u01(trigger, seed, 31) * (g.maxCount + 1 - g.minCount)).cast("int")
      case "sinusoid" =>
        val peak = if (g.peakTime.isEmpty) lit(0L)
        else lit(java.time.Instant.parse(g.peakTime).toEpochMilli)
        val angle = (unix_millis(ts) - peak).cast("double") / lit(1000.0) / g.periodSeconds * (2 * math.Pi)
        round((cos(angle) + 1) / 2 * (g.maxCount - g.minCount) + g.minCount).cast("int")
      case _ => lit(1)
    }
  }

  /** Shared generator projection: adds the JSON `value` column. */
  private def withGeneratedJson(rows: DataFrame, spec: SimSpec, seed: Long): DataFrame = {
    val id = col("id")
    val ts = col("ts")
    val basePairs = spec.fields.zipWithIndex.map { case (f, i) =>
      f.field -> valueJson(f, id, ts, seed, i * 31 + 1, spec.charsets)
    }
    // conditional overrides (eventsim.go:376-396): field-level replacement
    // when the condition field's *string form* equals the condition value.
    val withOverrides = spec.overrides.filterNot(o => o.disabled || o.conditionField.isEmpty)
      .foldLeft(basePairs.toMap) { (acc, o) =>
        val condJson = acc.get(o.conditionField)
        condJson match {
          case None => acc
          case Some(condCol) =>
            val cond = regexp_replace(condCol, "^\"|\"$", "") === o.conditionValue
            o.fields.zipWithIndex.foldLeft(acc) { case (m, (of, j)) =>
              val genO = valueJson(of, id, ts, seed, 7000 + j * 31, spec.charsets)
              m.updated(of.field, m.get(of.field) match {
                case Some(orig) => when(cond, genO).otherwise(orig)
                case None => when(cond, genO).otherwise(lit(null)) // only set when condition holds
              })
            }
        }
      }
    // preserve spec order, then any override-only fields
    val ordered = (basePairs.map(_._1) ++ withOverrides.keys.filterNot(basePairs.map(_._1).contains))
      .distinct.map(k => k -> withOverrides(k))
    val nonNullPairs = ordered.map { case (k, v) => (k, v) }
    rows.withColumn("value", assembleJson(nonNullPairs))
      .select(col("trigger"), ts.as("ts"), col("value"))
  }
}
