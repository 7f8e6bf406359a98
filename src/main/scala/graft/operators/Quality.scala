package graft.operators

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality expectations: declarative constraints checked in bulk,
  * with per-rule metrics and row-level quarantine routing — the admission
  * gate a training-data pipeline puts in front of every ingest (the same
  * surface Deequ/Great Expectations expose, re-expressed as pure Column
  * algebra so Catalyst folds the whole rule set into the scan).
  *
  * The reference validates implicitly — `errors="coerce"` null-on-failure
  * parses (ETL_OMS.py:62-66), not-null drops (ETL_OMS_OPERATIONNEL.py:
  * 96-99), keyword gates (ETL_OMS_OPERATIONNEL.py:44-55) — and silently
  * loses the rejected rows. This surface makes the gate explicit: every
  * row that fails is NAMED with the rules it failed, counted per rule,
  * and routed to a quarantine output instead of vanishing.
  *
  * Scale design (100 TB ingest batch):
  *   - Row-local rules (not-null / range / set / regex / date-floor /
  *     custom) compile to ONE projection over the scan — zero shuffles,
  *     zero extra passes, fully inside whole-stage codegen no matter how
  *     many rules are declared.
  *   - [[Rule.UniqueKey]] is ONE hash shuffle on the candidate key (high
  *     cardinality by definition — no task-concentration hazard).
  *   - [[Rule.RefIntegrity]] is a broadcast left join against the dim's
  *     distinct keys (dims are small by star-schema construction; the
  *     plan gate in QualitySpec asserts the broadcast).
  *   - [[metrics]] is one map-side-combined aggregate over the annotated
  *     frame → exactly one row, melted to per-rule rows driver-free.
  *   - [[writeSplit]] writes valid + quarantine from ONE scan via a
  *     partition column — the two-output split never reads the batch
  *     twice.
  */
object Quality {

  /** One declarative constraint. `name` is the stable identifier that
    * appears in violation arrays and metric rows.
    */
  sealed trait Rule { def name: String }

  object Rule {
    /** Column must be non-null. */
    final case class NotNull(col: String) extends Rule {
      val name = s"not_null:$col"
    }
    /** Non-null values must fall in [lo, hi] (nulls are NotNull's job —
      * rules stay orthogonal so one bad cell fires one rule).
      */
    final case class InRange(col: String, lo: Double, hi: Double)
        extends Rule { val name = s"in_range:$col" }
    /** Non-null values must be members of `values`. */
    final case class OneOf(col: String, values: Seq[String]) extends Rule {
      val name = s"one_of:$col"
    }
    /** Non-null values must match `regex` (Java-regex subset shared with
      * RE2 — anchors, classes, alternation — so oracles agree).
      */
    final case class Matches(col: String, regex: String) extends Rule {
      val name = s"matches:$col"
    }
    /** Non-null timestamps must be >= `isoDate` (ingest freshness floor). */
    final case class NotBefore(col: String, isoDate: String) extends Rule {
      val name = s"not_before:$col"
    }
    /** `cols` must identify rows uniquely; EVERY row of a duplicated key
      * group is flagged (quarantine must carry all claimants — picking a
      * survivor is dedup's job, not admission's).
      */
    final case class UniqueKey(cols: Seq[String]) extends Rule {
      val name = s"unique:${cols.mkString("+")}"
    }
    /** Non-null `col` values must exist in `dimCol` of `dim` (foreign-key
      * admission against a dimension). `dim` is broadcast — star-schema
      * dims are small by construction.
      */
    final case class RefIntegrity(col: String, dim: DataFrame,
        dimCol: String) extends Rule { val name = s"ref:$col" }
    /** Escape hatch: `violated` is a Boolean Column over the input row. */
    final case class Custom(name: String, violated: Column) extends Rule

    /** Non-null numeric arrays must contain only FINITE elements — a
      * single NaN/Inf embedding poisons every cosine/L2 score it
      * touches (NaN propagates through dot products and wrecks top-k
      * ordering silently). A NULL element counts as non-finite too
      * (r18, ADVICE): `exists` over a null element yields a NULL
      * predicate, which `when` treats as not-violated — so
      * `[null, 0.1, …]` would slip through the gate and still null
      * out every downstream cosine/L2 score. Row-local: one `exists`
      * over the array.
      */
    final case class FiniteArray(col: String) extends Rule {
      val name = s"finite:$col"
    }
    /** The batch's SCHEMA must match `expected` (r18, VERDICT #4) —
      * the admission rule class for the drift the VALUE rules cannot
      * see: a feed that gained, lost, or retyped a column. The
      * reference's signature behavior is tolerating wild headers
      * (unrecognized columns reported and passed through,
      * ETL_OMS.py:54-55); this makes that report an AUDITABLE
      * admission decision flowing through the same quarantine /
      * metrics / drift sinks as every value rule.
      *
      * Matching is BY NAME (order-insensitive) with exact dataType
      * equality; nullability is ignored (Spark's nullability flags
      * are advisory). Violations expand to per-column sub-rules —
      * `schema:missing:c` / `schema:extra:c` / `schema:retyped:c` —
      * plus the stable summary name `schema`, so the drift gauge
      * baselines on a name that exists every batch while the
      * quarantine names the exact columns. A drifted batch flags
      * EVERY row (the whole batch is suspect — one scan cannot say
      * which rows caused a feed-level break), so the wholesale
      * valve fires at any maxQuarantineRate < 1. Evaluation is
      * driver-side over the schema — zero per-row cost.
      */
    final case class SchemaMatches(
        expected: org.apache.spark.sql.types.StructType,
        allowExtra: Boolean = false) extends Rule {
      val name = "schema"
    }

    /** Non-null vectors' L2 norm must fall in [lo, hi] — zero vectors
      * have undefined cosine direction (and typically mean an upstream
      * embedder returned a placeholder); runaway norms distort
      * dot-product scores. Row-local: one aggregate over the array.
      */
    final case class NormInRange(col: String, lo: Double, hi: Double)
        extends Rule { val name = s"norm:$col" }
  }

  import Rule._

  /** The violation predicate of a row-local rule (None for set rules,
    * which need their marker columns pre-joined by [[annotate]]).
    */
  private def rowLocal(r: Rule): Option[Column] = r match {
    case NotNull(c)      => Some(col(c).isNull)
    case InRange(c, lo, hi) =>
      Some(col(c).isNotNull && !(col(c) >= lit(lo) && col(c) <= lit(hi)))
    case OneOf(c, vs)    => Some(col(c).isNotNull && !col(c).isin(vs: _*))
    case Matches(c, re)  => Some(col(c).isNotNull && !col(c).rlike(re))
    case NotBefore(c, d) =>
      Some(col(c).isNotNull && col(c) < lit(d).cast("timestamp"))
    case Custom(_, p)    => Some(p)
    case FiniteArray(c)  =>
      Some(col(c).isNotNull && exists(col(c), x =>
        x.isNull ||
          isnan(x.cast("double")) ||
          abs(x.cast("double")) > lit(Double.MaxValue) ||
          x.cast("double") === lit(Double.PositiveInfinity) ||
          x.cast("double") === lit(Double.NegativeInfinity)))
    case NormInRange(c, lo, hi) =>
      val norm = sqrt(aggregate(col(c), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      // a NaN norm (NaN elements) is FiniteArray's job — rules stay
      // orthogonal; likewise a NULL element yields a NULL norm, which
      // keeps this rule silent (null predicate → not violated) and is
      // FiniteArray's to flag. The isnan guard is LOAD-BEARING:
      // Spark's ordering ranks NaN above every numeric, so `NaN > hi`
      // is TRUE here (unlike Java doubles) and would double-fire this
      // rule
      Some(col(c).isNotNull && !isnan(norm) &&
        (norm < lit(lo) || norm > lit(hi)))
    case _               => None
  }

  /** The per-column violation names a [[Rule.SchemaMatches]] sees in
    * `actual` — empty means the schema conforms. Driver-side, pure.
    */
  private[graft] def schemaProblems(
      actual: org.apache.spark.sql.types.StructType,
      r: SchemaMatches): Seq[String] = {
    val got = actual.fields.map(f => f.name -> f.dataType).toMap
    val want = r.expected.fields.map(f => f.name -> f.dataType).toMap
    val missing = r.expected.fieldNames.filterNot(got.contains)
      .map(c => s"schema:missing:$c")
    val retyped = r.expected.fields
      .filter(f => got.get(f.name).exists(_ != f.dataType))
      .map(f => s"schema:retyped:${f.name}")
    val extra =
      if (r.allowExtra) Array.empty[String]
      else actual.fieldNames.filterNot(want.contains)
        .map(c => s"schema:extra:$c")
    (missing ++ retyped ++ extra).toSeq.sorted
  }

  /** Recursively force-nullable (late r18): the file-source read path
    * marks every column nullable, but a raw footer conversion keeps
    * parquet `required` fields non-nullable — without this the two
    * [[footerSchemas]] rungs would disagree on exactly the flag
    * [[Rule.SchemaMatches]] documents as ignored. (DataType has an
    * `asNullable`, but it is private[spark].)
    */
  private def forceNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, forceNullable(f.dataType),
          nullable = true, f.metadata)))
      case a: ArrayType =>
        ArrayType(forceNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(forceNullable(m.keyType),
        forceNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** One footer, read LITERALLY — both rungs share this, so neither
    * ever globs: `spark.read.parquet(f)` treats `{}[]*` in a file
    * name as a glob pattern, and a data file legally named like
    * `day[1].parquet` would fail (or silently multi-match) on the
    * driver rung while reading fine on the distributed one (late
    * r18, review #2).
    *
    * And decoded as a URI first (r19, ADVICE #2): the streaming-gate
    * call path feeds this strings from `input_file_name()`, which are
    * URI-ENCODED — `Path(String)` does not decode percent-escapes, so
    * a data file named with a space or '%' would resolve to the wrong
    * literal name and fail the micro-batch. `new Path(new URI(f))`
    * decodes them (Spark's own PartitionedFile handling); a string
    * that is not a parseable URI (a raw local path with a literal
    * space) falls back to the literal `Path(f)` unchanged. */
  private def footerText(f: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val p =
      try new org.apache.hadoop.fs.Path(new java.net.URI(f))
      catch { case scala.util.control.NonFatal(_) =>
        new org.apache.hadoop.fs.Path(f) }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.toString
    finally r.close()
  }

  /** Per-file parquet footer schemas for the streaming gate's
    * [[Rule.SchemaMatches]] drift discovery (late r18). Per-file, not
    * merged: a merge UNIONS columns, which would hide the one file
    * that LOST a column. Up to `driverMax` files (1024) each footer
    * is read on the driver — a micro-batch is a handful of files and
    * a Spark job costs more than it saves. Above it the footers read
    * as ONE Spark job (the hashFilesDistributed / distcp shape: at
    * 100 TB a backfill batch can carry tens of thousands of files —
    * a micro-batch has no file bound when `maxFilesPerTrigger` is
    * unset — and a per-file driver loop would serialize exactly the
    * path that must keep up with the feed). Tasks return raw footer
    * MessageType text; the parquet→Spark conversion runs driver-side
    * with the session's OWN SQLConf converter, so both rungs yield
    * bit-identical schemas — spec-gated in QualitySpec, which passes
    * `driverMax = 0` to force the job rung.
    */
  private[graft] def footerSchemas(
      s: org.apache.spark.sql.SparkSession, files: Seq[String],
      driverMax: Int = 1024)
      : Seq[org.apache.spark.sql.types.StructType] = {
    // the EXPENSIVE part — opening tens of thousands of files and
    // reading their footers — distributes past `driverMax`; the
    // parquet→Spark type conversion is pure CPU per schema and runs
    // on the driver with the session's OWN SQLConf converter, so the
    // two rungs cannot drift on conversion rules (and the converter
    // never has to serialize). Footers travel as parquet MessageType
    // text — the parseable canonical form.
    val raw: Seq[String] =
      if (files.size <= driverMax) {
        val conf = s.sessionState.newHadoopConf()
        files.map(footerText(_, conf))
      } else {
        val confKv = graft.operators.TextOps
          .hadoopConfKv(s.sessionState.newHadoopConf())
        val n = math.max(1, math.min(files.size,
          s.sparkContext.defaultParallelism * 2))
        s.sparkContext.parallelize(files, n)
          .mapPartitions { it =>
            val conf = graft.operators.TextOps
              .rebuildHadoopConf(confKv)
            it.map(footerText(_, conf))
          }
          .collect().toSeq
      }
    val conv = new org.apache.spark.sql.execution.datasources
      .parquet.ParquetToSparkSchemaConverter(s.sessionState.conf)
    raw.map(txt => forceNullable(conv.convert(
        org.apache.parquet.schema.MessageTypeParser
          .parseMessageType(txt)))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** `df` + `violations: array<string>` — the sorted names of every rule
    * the row fails (empty array = admitted). Row-local rules evaluate in
    * the projection; UniqueKey adds one key-partitioned window count;
    * RefIntegrity adds one broadcast left join per dim; SchemaMatches
    * evaluates once on the driver and, when drifted, stamps every row
    * with `schema` plus its per-column sub-names.
    */
  def annotate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "Quality.annotate: empty rule set")
    require(rules.map(_.name).distinct.size == rules.size,
      "Quality.annotate: duplicate rule names")
    // set rules first: fold marker columns onto the frame
    val withMarkers = rules.zipWithIndex.foldLeft(df) {
      case (acc, (UniqueKey(cols), i)) =>
        val w = Window.partitionBy(cols.map(col): _*)
        acc.withColumn(s"_q$i", count(lit(1)).over(w) > 1)
      case (acc, (RefIntegrity(c, dim, dimCol), i)) =>
        val keyAlias = s"_qk$i"
        val keys = dim.select(col(dimCol).as(keyAlias)).distinct()
        acc.join(broadcast(keys), acc(c) === col(keyAlias), "left")
          .withColumn(s"_q$i", col(c).isNotNull && col(keyAlias).isNull)
          .drop(keyAlias)
      case (acc, _) => acc
    }
    val marks: Seq[Column] = rules.zipWithIndex.flatMap { case (r, i) =>
      r match {
        case sm: SchemaMatches =>
          val probs = schemaProblems(df.schema, sm)
          if (probs.isEmpty) Nil // conforming: no mark at all
          else (sm.name +: probs).map(p => lit(p))
        case _ =>
          val violated = rowLocal(r).getOrElse(col(s"_q$i"))
          Seq(when(violated, lit(r.name)))
      }
    }
    val dropped = rules.indices.map(i => s"_q$i")
      .filter(withMarkers.columns.contains)
    // a rule set that produced no marks (only a CONFORMING
    // SchemaMatches) still needs a typed empty array
    val arr =
      if (marks.isEmpty) typedLit(Seq.empty[String])
      else array_sort(filter(array(marks: _*), x => x.isNotNull))
    withMarkers
      .withColumn("violations", arr)
      .drop(dropped: _*)
  }

  /** Per-rule admission metrics: one row per rule with the batch total
    * and the violation count — ONE aggregate job over the annotated
    * frame (each rule is a conditional sum; the single result row is
    * melted to per-rule rows with `stack`, no driver loop).
    */
  def metrics(df: DataFrame, rules: Seq[Rule]): DataFrame =
    metricsOfAnnotated(annotate(df, rules), rules)

  /** [[metrics]] over an ALREADY-annotated frame — for callers that
    * annotate once and fan out (quarantine + metrics + admitted from
    * one persisted frame, the streaming ingest's shape).
    */
  def metricsOfAnnotated(ann: DataFrame, rules: Seq[Rule]): DataFrame = {
    // SchemaMatches expands to its per-column sub-rules for THIS
    // batch's schema (recovered from the annotated frame), plus its
    // stable summary name — the summary row exists every batch (0 on
    // a conforming one), so the drift gauge has a baseline, while the
    // sub-rows name the exact drifted columns
    val actual = org.apache.spark.sql.types.StructType(
      ann.schema.fields.filterNot(_.name == "violations"))
    val names: Seq[String] = rules.flatMap {
      case sm: SchemaMatches => sm.name +: schemaProblems(actual, sm)
      case r => Seq(r.name)
    }
    val aggs = count(lit(1)).as("_total") +:
      names.zipWithIndex.map { case (n, i) =>
        sum(when(array_contains(col("violations"), n), 1L)
          .otherwise(0L)).as(s"_v$i")
      }
    val one = ann.agg(aggs.head, aggs.tail: _*)
    // Column-API melt (r18, ADVICE): the former selectExpr-`stack`
    // interpolated rule names into SQL text unescaped, so a Custom
    // rule named with a quote parsed wrong at runtime despite
    // annotate accepting it. An explode over named structs carries
    // the names as LITERALS — no SQL round-trip, any name annotate
    // accepts melts correctly. The sums are coalesced to 0 so an
    // EMPTY batch (total 0) reports zero violations instead of null
    // rows that would poison the admission history's rate math.
    val pairs = array(names.zipWithIndex.map { case (n, i) =>
      struct(lit(n).as("rule"),
        coalesce(col(s"_v$i"), lit(0L)).as("violations"))
    }: _*)
    one.select(explode(pairs).as("kv"), col("_total").as("total"))
      .select(col("kv.rule").as("rule"), col("total"),
        col("kv.violations").as("violations"))
      .orderBy("rule")
  }

  /** (admitted, quarantined): admitted drops the bookkeeping column;
    * quarantined keeps the row plus `violations` as a comma-joined
    * string (stable across engines and sinks). Two filters over one
    * shared plan — for the single-scan write path use [[writeSplit]].
    */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val ann = annotate(df, rules)
    val ok = ann.where(size(col("violations")) === 0).drop("violations")
    val bad = ann.where(size(col("violations")) > 0)
      .withColumn("violations", concat_ws(",", col("violations")))
    (ok, bad)
  }

  /** Route one batch to `<path>/_admitted=true|false` in a SINGLE scan +
    * write job — at 100 TB the batch must not be read once per output.
    * Quarantined rows carry their reasons; admitted rows carry an empty
    * string (same schema both sides — one writer).
    */
  def writeSplit(df: DataFrame, rules: Seq[Rule], path: String): Unit =
    annotate(df, rules)
      .withColumn("_admitted", size(col("violations")) === 0)
      .withColumn("violations", concat_ws(",", col("violations")))
      .write.mode("overwrite").partitionBy("_admitted").parquet(path)

  /** The q_expect rule set over `orders` — exercises every rule class;
    * thresholds chosen so range/set/regex/date rules FIRE on the real
    * data while not-null/unique/ref pass (both outcomes are signal).
    */
  private def orderRules(customer: DataFrame): Seq[Rule] = Seq(
    NotNull("o_custkey"),
    InRange("o_totalprice", 0.0, 300000.0),
    OneOf("o_orderstatus", Seq("O", "F")),
    Matches("o_orderpriority", "^[1-3]-"),
    NotBefore("o_orderdate", "1995-06-01"),
    UniqueKey(Seq("o_orderkey")),
    RefIntegrity("o_custkey", customer.where(col("c_acctbal") > 0),
      "c_custkey"))

  /** q_remediate's memo monitor — see the QDef's NOT-memoIndex note. */
  private val remqMemo = new Object

  val defs: Seq[QDef] = Seq(

    // Admission metrics: the full rule-class spread in one aggregate
    // pass. Row-local rules fold into the scan projection; unique is one
    // key shuffle; ref is a broadcast join (plan-gated in QualitySpec).
    QDef("q_expect",
      (s, d) => metrics(Tables(s, d, "orders"),
        orderRules(Tables(s, d, "customer"))),
      Some("""
        WITH o AS (SELECT * FROM orders),
        dim AS (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 0),
        dup AS (SELECT coalesce(sum(c), 0) AS v FROM
          (SELECT count(*) AS c FROM o GROUP BY o_orderkey
           HAVING count(*) > 1)),
        refv AS (SELECT count(*) AS v FROM o
          WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM dim)),
        base AS (SELECT count(*) AS total,
          sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn,
          sum(CASE WHEN o_totalprice IS NOT NULL
                    AND NOT (o_totalprice BETWEEN 0 AND 300000)
              THEN 1 ELSE 0 END) AS rng,
          sum(CASE WHEN o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('O','F')
              THEN 1 ELSE 0 END) AS oneof,
          sum(CASE WHEN o_orderpriority IS NOT NULL
                    AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
              THEN 1 ELSE 0 END) AS mtch,
          sum(CASE WHEN o_orderdate IS NOT NULL
                    AND o_orderdate < TIMESTAMP '1995-06-01'
              THEN 1 ELSE 0 END) AS nb
          FROM o)
        SELECT rule, total, CAST(violations AS BIGINT) AS violations FROM (
          SELECT 'not_null:o_custkey' AS rule, total, nn AS violations
            FROM base
          UNION ALL SELECT 'in_range:o_totalprice', total, rng FROM base
          UNION ALL SELECT 'one_of:o_orderstatus', total, oneof FROM base
          UNION ALL SELECT 'matches:o_orderpriority', total, mtch FROM base
          UNION ALL SELECT 'not_before:o_orderdate', total, nb FROM base
          UNION ALL SELECT 'unique:o_orderkey', (SELECT total FROM base),
            (SELECT v FROM dup)
          UNION ALL SELECT 'ref:o_custkey', (SELECT total FROM base),
            (SELECT v FROM refv)
        ) ORDER BY rule
      """)),

    // Quarantine routing over documents with an injected duplicate
    // subset (doc_id % 97) so UniqueKey fires alongside the value rules
    // — every quarantined row carries the sorted names of the rules it
    // failed. Both copies of a duplicated key appear: admission flags
    // ALL claimants, survivor-picking is dedup's job.
    QDef("q_quarantine",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val batch = docs.unionAll(docs.where(col("doc_id") % 97 === 0))
        val rules = Seq[Rule](
          NotNull("text"),
          OneOf("lang", Seq("en", "fr", "de")),
          InRange("n_chars", 60.0, 500.0),
          UniqueKey(Seq("doc_id")))
        annotate(batch, rules)
          .where(size(col("violations")) > 0)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            concat_ws(",", col("violations")).as("violations"))
          .orderBy("doc_id", "violations")
      },
      Some("""
        WITH d AS (
          SELECT * FROM documents
          UNION ALL SELECT * FROM documents WHERE doc_id % 97 = 0),
        k AS (SELECT doc_id, count(*) AS c FROM d GROUP BY doc_id),
        a AS (SELECT d.doc_id, d.lang, d.n_chars,
          CASE WHEN d.text IS NULL THEN 'not_null:text' END AS r1,
          CASE WHEN d.lang IS NOT NULL
                AND d.lang NOT IN ('en','fr','de')
               THEN 'one_of:lang' END AS r2,
          CASE WHEN d.n_chars IS NOT NULL
                AND NOT (d.n_chars BETWEEN 60 AND 500)
               THEN 'in_range:n_chars' END AS r3,
          CASE WHEN k.c > 1 THEN 'unique:doc_id' END AS r4
          FROM d JOIN k USING (doc_id))
        SELECT doc_id, lang, n_chars,
          array_to_string(list_sort(
            list_filter([r1, r2, r3, r4], x -> x IS NOT NULL)), ',')
            AS violations
        FROM a
        WHERE r1 IS NOT NULL OR r2 IS NOT NULL OR r3 IS NOT NULL
           OR r4 IS NOT NULL
        ORDER BY doc_id, violations
      """)),

    // The VECTOR gate's metrics, oracle-gated: embeddings with an
    // injected zero-vector subset (x*0 is engine-deterministic; the
    // NaN/Inf leg is deliberately spec-gated in AdmissionSpec —
    // cross-engine NaN arithmetic is not). Norm fires exactly on the
    // injected vectors; the finite rule is exercised at zero.
    QDef("q_vector_gate",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select("vec_id", "embedding")
        val zeroed = emb.where(col("vec_id") % 500 === 1)
          .select((col("vec_id") + 200000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(0.0f))
              .as("embedding"))
        metrics(emb.unionByName(zeroed), Seq(
          FiniteArray("embedding"),
          NormInRange("embedding", 1e-6, 1e6)))
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        z AS (SELECT vec_id + 200000 AS vec_id,
                list_transform(embedding, x -> x * 0) AS embedding
              FROM e WHERE vec_id % 500 = 1),
        b AS (SELECT * FROM e UNION ALL SELECT * FROM z),
        m AS (SELECT
          count(*) AS total,
          sum(CASE WHEN embedding IS NOT NULL AND
                len(list_filter(embedding,
                  x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
              THEN 1 ELSE 0 END) AS fin,
          sum(CASE WHEN embedding IS NOT NULL AND
                NOT isnan(sqrt(list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
                AND (sqrt(list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    < 1e-6
                  OR sqrt(list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                    > 1e6)
              THEN 1 ELSE 0 END) AS nrm
          FROM b)
        SELECT rule, total, CAST(violations AS BIGINT) AS violations
        FROM (
          SELECT 'finite:embedding' AS rule, total, fin AS violations
            FROM m
          UNION ALL SELECT 'norm:embedding', total, nrm FROM m
        ) ORDER BY rule
      """)),

    // SCHEMA-DRIFT admission (r18, VERDICT #4): a batch whose feed
    // gained (`origin`), lost (`lang`), and retyped (`n_chars` →
    // string) columns against the declared contract — the metrics
    // pass names each drifted column as its own sub-rule alongside
    // the stable `schema` summary, every row of the batch counting
    // as suspect (feed-level breaks have no per-row blame).
    QDef("q_schema_drift",
      (s, d) => {
        import org.apache.spark.sql.types._
        val docs = Tables(s, d, "documents")
        val drifted = docs.select(col("doc_id"), col("text"),
          col("n_chars").cast("string").as("n_chars"),
          col("source").as("origin"))
        val expected = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType),
          StructField("n_chars", LongType),
          StructField("lang", StringType)))
        metrics(drifted, Seq(SchemaMatches(expected)))
      },
      Some("""
        WITH c AS (SELECT count(*) AS n FROM documents)
        SELECT v.rule, c.n AS total, c.n AS violations
        FROM c, (VALUES ('schema'), ('schema:extra:origin'),
          ('schema:missing:lang'), ('schema:retyped:n_chars')) v(rule)
        ORDER BY rule
      """)),

    // QUARANTINE REMEDIATION end-to-end (r18): the documents feed is
    // ingested through the unified streaming loop under two admission
    // rules — lang ∈ {en,fr,es,de} and n_chars ∈ [50,400] — so zh
    // docs and out-of-length docs land in `<base>_quarantine` with
    // their reasons. The operator verb then heals IN PLACE with a fix
    // that remaps the unexpected language to 'en' (and repairs
    // nothing else): healed rows re-enter the corpus through the
    // upsert verbs (curation gate + exact-dedup + hash rows — the
    // ingest door's own trimmings) and leave quarantine; rows the fix
    // can't save (length violations) stay, original evidence intact.
    // Output is the remediation summary collapsed across batches —
    // all three numbers are pure functions of the raw feed and the
    // declarative rule/fix pair, so DuckDB prices the entire
    // stream-gate-heal lifecycle from the parquet alone. Memoized per
    // (process, sfDir) with the memoIndex `_ok` crash-marker
    // discipline, but under its OWN monitor — deliberately NOT
    // memoIndex: its build lock is a JVM monitor held across build(),
    // and the streaming loop's micro-batch callbacks take that same
    // monitor on their OWN thread per batch, so a memoized build that
    // runs a stream deadlocks (driver thread owns the monitor and
    // waits for stream termination; the batch thread waits for the
    // monitor). The verb MUTATES its family, so the summary is
    // computed once and re-reads serve the stored result (re-running
    // the verb would correctly report zeros — convergence, proven in
    // RemediationSpec, not a second copy of these numbers).
    QDef("q_remediate",
      (s, d) => {
        val rules = Seq(
          OneOf("lang", Seq("en", "fr", "es", "de")),
          InRange("n_chars", 50, 400))
        val t = remqMemo.synchronized {
          val t = TextOps.indexTableName("graft_remq", d)
          val okT = t + "_ok"
          if (s.catalog.tableExists(t) && s.catalog.tableExists(okT))
            t
          else {
          Seq(t, okT).foreach { x =>
            s.sql(s"DROP TABLE IF EXISTS $x")
            TextOps.clearOrphanLocation(s, x)
          }
          val base = t + "_f"
          // a crashed earlier build may have left partial family
          // state that a fresh ingest would mistake for replayable
          // history — hard-drop the family and its checkpoint first
          Seq("_band", "_band_del", "_band_hold", "_bm25", "_bm25_del",
            "_bm25_docs", "_bm25_hold", "_hashes",
            "_ledger", "_quarantine", "_admission").foreach { sfx =>
            s.sql(s"DROP TABLE IF EXISTS $base$sfx")
            TextOps.clearOrphanLocation(s, base + sfx)
          }
          val ck = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"),
            base.toLowerCase + "_ck")
          ck.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(ck, true)
          // the harness table is a single parquet FILE; the file-stream
          // source wants a directory — stage it (small: the documents
          // table, not the corpus; at real scale the feed IS a
          // directory and this copy disappears)
          val feed = java.nio.file.Files
            .createTempDirectory("graft_remq_feed")
          val feedDir = feed.resolve("documents.parquet")
          java.nio.file.Files.createDirectory(feedDir)
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(d, "documents.parquet"),
            feedDir.resolve("part-0.parquet"))
          try {
            graft.streaming.StreamingOps.streamingDocumentIngest(s,
              feed.toString, base, admission = rules)
          } finally {
            java.nio.file.Files.delete(feedDir.resolve("part-0.parquet"))
            java.nio.file.Files.delete(feedDir)
            java.nio.file.Files.delete(feed)
          }
          val summary = graft.streaming.StreamingOps
            .remediateQuarantine(s,
              graft.streaming.IndexGroup.documents(base),
              fix = df => df.withColumn("lang",
                when(col("lang").isin("en", "fr", "es", "de"),
                  col("lang")).otherwise(lit("en"))),
              admission = rules)
          summary
            .agg(coalesce(sum("quarantined"), lit(0L)).as("q"),
              coalesce(sum("healed"), lit(0L)).as("h"),
              coalesce(sum("remaining"), lit(0L)).as("r"))
            .select(explode(array(
              struct(lit("healed").as("status"), col("h").as("n")),
              struct(lit("quarantined").as("status"),
                col("q").as("n")),
              struct(lit("remaining").as("status"),
                col("r").as("n")))).as("kv"))
            .select(col("kv.status").as("status"), col("kv.n").as("n"))
            .write.mode("overwrite").saveAsTable(t)
          val sp2 = s
          import sp2.implicits._
          Seq(1).toDF("ok").write.mode("overwrite").saveAsTable(okT)
          t
          }
        }
        s.table(t).orderBy("status")
      },
      Some("""
        WITH q AS (SELECT lang, n_chars FROM documents
          WHERE lang NOT IN ('en','fr','es','de')
             OR n_chars < 50 OR n_chars > 400)
        SELECT * FROM (
          SELECT 'healed' AS status, count(*) AS n FROM q
            WHERE n_chars BETWEEN 50 AND 400
          UNION ALL SELECT 'quarantined', count(*) FROM q
          UNION ALL SELECT 'remaining', count(*) FROM q
            WHERE n_chars < 50 OR n_chars > 400
        ) ORDER BY status
      """)),
  )
}
