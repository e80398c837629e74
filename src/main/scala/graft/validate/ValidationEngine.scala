package graft.validate

import graft.rules._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** The validation core: re-expresses sifter's `objectValidate` per-row
  * check (transform/object_validate.go:31-87) and `graphcheck`'s
  * referential check (graphcheck/graphCheck.go:15-72) as declarative
  * DataFrame plans that Catalyst can optimize end-to-end.
  *
  * Scale notes (the 100 TB design, tested at sf0.x):
  *  - [[Violations.extract]] is a single narrow projection + explode —
  *    one scan, zero shuffles, stays inside whole-stage codegen; N rules
  *    do NOT cost N passes (the reference re-validates per row in one Go
  *    worker; we keep that single-pass shape but columnar).
  *  - [[Uniqueness]] shuffles once on the full composite key (high
  *    cardinality ⇒ well distributed); the *low-cardinality skewed*
  *    aggregations (per-org verdicts, a 30%-hot org) go through
  *    [[SaltedAgg]] two-phase salting.
  *  - [[Referential.orphans]] picks broadcast vs shuffle join from the
  *    dimension's size, mirroring the north rule's "broadcast or
  *    sort-merge chosen by cardinality stats".
  */
object Violations {

  /** All row-rule violations in ONE pass: per row, build an array of
    * structs for the rules that fail, drop nulls, explode. Rows that pass
    * every rule contribute nothing (explode of empty array).
    */
  def extract(files: DataFrame, rules: Seq[RowRule],
      keyCols: Seq[String] = graft.model.FileRow.key): DataFrame = {
    val checks = array(rules.map { r =>
      when(!r.pass, struct(
        lit(r.id).as("rule_id"),
        lit(r.column).as("col_name"),
        r.observed.as("observed")))
    }: _*)
    files
      .select(keyCols.map(col) :+
        explode(filter(checks, c => c.isNotNull)).as("v"): _*)
      .select(Seq(col("v.rule_id").as("rule_id"), col("v.col_name").as("col_name")) ++
        keyCols.map(col) :+ col("v.observed").as("observed"): _*)
  }

  /** Canonical serialization order for golden dumps: (rule_id, key...) —
    * the frozen violation-fixture format (SURVEY §7: goldens must be
    * deterministic across partitionings; comparisons are set-based, but
    * files people diff need one order). */
  def canonical(violations: DataFrame,
      keyCols: Seq[String] = graft.model.FileRow.key): DataFrame =
    violations.orderBy((("rule_id" +: keyCols) :+ "col_name").map(col): _*)
}

/** Two-phase salted aggregation for skewed low-cardinality group keys.
  * Phase 1 pre-aggregates on (key, salt) spreading a hot key over
  * `salts` reducers; phase 2 merges per key. Spark's partial (map-side)
  * aggregation already bounds skew for simple counts; the explicit salt
  * guards high-cardinality-per-group aggregates (e.g. distinct-ish
  * payloads) where partial agg buffers blow up on the hot reducer.
  */
object SaltedAgg {
  def countByKey(df: DataFrame, keys: Seq[String], salts: Int = 32): DataFrame = {
    // rand-based salt, NOT a content hash: a key hot because one
    // byte-identical row repeats collapses a content-derived salt to a
    // single value and recreates the skew wholesale. Counts are
    // insensitive to WHICH salt a row lands on (each row counts once
    // under any assignment), so rand's retry-nondeterminism is harmless
    // here — it only redistributes the partial groups.
    val salted = df.withColumn("_salt",
      floor(rand(42) * salts).cast("int"))
    salted
      .groupBy((keys.map(col) :+ col("_salt")): _*).agg(count(lit(1)).as("_partial"))
      .groupBy(keys.map(col): _*).agg(sum(col("_partial")).cast(LongType).as("n_rows"))
  }

  /** Cheap skew sketch: does one key group hold ≥ `hotShare` of a
    * seeded ~1/`frac` Bernoulli row sample? `df.sample` (seeded) rather
    * than a content hash: a FULL-ROW hash keeps byte-identical
    * duplicate rows all-or-none, so a key that is hot precisely because
    * one row repeats 10^8 times would land entirely in one hash residue
    * and be missed with probability (frac-1)/frac — and a KEY hash
    * would keep all-or-none of every key and see no skew at all. The
    * Bernoulli sample is per-row regardless of content, and its
    * predicate references no columns, so the probe scan prunes down to
    * the key columns only — at 100 TB a narrow 1% columnar scan, far
    * cheaper than letting a 30%-hot reducer spill. (Seeded sample is
    * reproducible per partition layout; a task-retry reshuffle could at
    * worst flip the PLAN choice, never the result.) Stats-fed callers
    * that already know the answer should call [[countByKey]] / the
    * plain groupBy directly and skip the probe. */
  def isSkewed(df: DataFrame, keys: Seq[String], hotShare: Double = 0.2,
      frac: Int = 100): Boolean = {
    val sampled =
      if (frac <= 1) df.select(keys.map(col): _*)
      else df.select(keys.map(col): _*)
        .sample(withReplacement = false, 1.0 / frac, seed = 42)
    val r = sampled
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("__mx"), sum(col("__n")).as("__tot"))
      .collect()(0)
    !r.isNullAt(0) && r.getLong(1) > 0 &&
      r.getLong(0).toDouble / r.getLong(1) >= hotShare
  }

  /** [[countByKey]] that decides salting ITSELF: a hot key above
    * `hotShare` of the sampled rows routes through the two-phase salted
    * plan, a balanced key distribution keeps the plain single-shuffle
    * aggregate (identical output either way — only the plan differs). */
  def countByKeyAuto(df: DataFrame, keys: Seq[String], salts: Int = 32,
      hotShare: Double = 0.2, frac: Int = 100): DataFrame =
    if (isSkewed(df, keys, hotShare, frac)) countByKey(df, keys, salts)
    else df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
}

/** Uniqueness on a composite key: groups with >1 row are violations.
  * Single shuffle on the composite key (map-side partial count first).
  * The reference's analog is first-wins `distinct` over a badger KV
  * (transform/distinct.go:24-62); we report the duplicates instead of
  * silently keeping one.
  */
object Uniqueness {
  def duplicates(files: DataFrame, keys: Seq[String]): DataFrame =
    files.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** [[duplicates]] with ZERO shuffle at check time: the input persists
    * once as a Spark BUCKETED table on the uniqueness key (`bucketBy` —
    * hash clustering recorded in catalog metadata, Spark's native
    * bucket layout), so the duplicate aggregation reads pre-clustered
    * buckets and plans WITHOUT an Exchange. This is the layout a
    * STANDING validated table keeps for a recurring uniqueness
    * invariant at 100 TB: the shuffle is paid once at ingest, every
    * later check (and any equi-join on the same key) is exchange-free.
    * `path` makes the table external at a caller-owned location; the
    * catalog entry is per-session (in-memory catalog). Callers certify
    * the plan — see SparkEntry `v_unique_bucketed`. */
  def duplicatesBucketed(spark: SparkSession, files: DataFrame,
      keys: Seq[String], buckets: Int, tableName: String,
      path: String): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    files.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(tableName)
    duplicates(spark.table(tableName), keys)
  }
}

/** Referential integrity: every `column` value must exist in the
  * reference table (graphcheck's edge-endpoint→vertex check as an
  * anti-join). Join strategy chosen by dimension cardinality, not left
  * to the broadcast threshold alone.
  */
object Referential {
  val BroadcastMaxRows = 50L * 1000 * 1000 / 64 // ~50MB of short strings

  def orphans(files: DataFrame, manifest: DataFrame,
      column: String, refKey: String): DataFrame = {
    val dim = manifest.select(col(refKey).as("__ref_key")).distinct()
    val dimRows = dim.count() // one tiny job over the dimension only
    orphansJoin(files, dim, column, broadcastDim = dimRows <= BroadcastMaxRows)
  }

  /** As [[orphans]] but with the broadcast decision supplied by the
    * caller (e.g. from table-level stats) — skips the probe count job. */
  def orphansKnownSize(files: DataFrame, manifest: DataFrame,
      column: String, refKey: String, broadcastDim: Boolean): DataFrame =
    orphansJoin(files, manifest.select(col(refKey).as("__ref_key")).distinct(),
      column, broadcastDim)

  /** The north rule's "broadcast or sort-merge chosen by cardinality
    * stats", end-to-end: the dimension is an IceLite-committed table
    * and the broadcast decision comes from the snapshot manifest's
    * footer-derived row counts — ONE driver file read, zero probe jobs,
    * no reliance on AQE observing the shuffle first. Falls back to the
    * probe count only for pre-tableRows snapshots. */
  def orphansFromManifest(spark: org.apache.spark.sql.SparkSession,
      ice: graft.io.IceLite, snap: Long, files: DataFrame,
      dimTable: String, column: String, refKey: String): DataFrame = {
    val dim = ice.readTable(spark, snap, dimTable)
    ice.tableRowCount(snap, dimTable) match {
      case Some(rows) =>
        orphansKnownSize(files, dim, column, refKey,
          broadcastDim = rows <= BroadcastMaxRows)
      case None => orphans(files, dim, column, refKey)
    }
  }

  private def orphansJoin(files: DataFrame, dim: DataFrame,
      column: String, broadcastDim: Boolean): DataFrame = {
    val right = if (broadcastDim) broadcast(dim) else dim
    // NULL foreign keys are MISSING values (the Required rule's
    // finding), not dangling references — without this filter every
    // null-FK row lands in the anti-join output (null never equals the
    // key) and gets double-reported; also matches the SQL-oracle
    // semantics, where `NOT IN` is never true for NULL
    files.filter(col(column).isNotNull)
      .join(right, files(column) === col("__ref_key"), "left_anti")
      .groupBy(col(column))
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
  }
}

/** Single-pass per-column profile: null counts, exact distinct (oracle
  * mode) or HLL++ (scale mode), length min/max. One Aggregate node over
  * one scan; `exact=false` swaps COUNT(DISTINCT) for
  * approx_count_distinct so the plan needs no Expand at 100 TB.
  */
object Profile {
  /** Backtick-quote an identifier / single-quote a string literal for
    * interpolation into an `expr(...)` string. */
  private[validate] def bq(name: String): String =
    "`" + name.replace("`", "``") + "`"
  private[validate] def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The per-column aggregates of [[columns]], four per column in
    * `cols` order: non-null count, distinct count, min and max length.
    * [[ValidationEngine]] folds the same list into its rows job. */
  def aggregates(cols: Seq[String], exact: Boolean): Seq[Column] =
    cols.flatMap { c =>
      Seq(
        count(col(bq(c))).as(s"${c}__nn"),
        // rsd 0.05 (Spark default): rsd 0.01 needs 2^14 HLL registers,
        // which as unsafe-row aggregation-buffer fields per column blows
        // codegen up into multi-MB task binaries that dominate the pass.
        (if (exact) countDistinct(col(bq(c))) else approx_count_distinct(col(bq(c)), 0.05))
          .as(s"${c}__nd"),
        min(length(col(bq(c)))).cast(LongType).as(s"${c}__minl"),
        max(length(col(bq(c)))).cast(LongType).as(s"${c}__maxl"))
    }

  def columns(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val row = df.agg(count(lit(1)).as("__n"), aggregates(cols, exact): _*)
    // identifiers/literals are quoted into the stack expr — a column
    // named `content-type` or `a.b` must not parse as arithmetic/field
    // access (lengthQuantiles documents the same hazard)
    val stackArgs = cols.map(c =>
      s"${sqlStr(c)}, ${bq(c + "__nn")}, ${bq(c + "__nd")}, " +
        s"${bq(c + "__minl")}, ${bq(c + "__maxl")}").mkString(", ")
    row.select(col("__n"),
        expr(s"stack(${cols.size}, $stackArgs) as (col_name, nn, nd, minl, maxl)"))
      .select(
        col("col_name"),
        col("__n").cast(LongType).as("n_rows"),
        (col("__n") - col("nn")).cast(LongType).as("n_null"),
        col("nd").cast(LongType).as("n_distinct"),
        col("minl").as("min_len"),
        col("maxl").as("max_len"))
  }
}

/** Scale-path profile: ONE custom TypedImperativeAggregate buffer per
  * column ([[graft.expr.ColumnProfileAgg]]) carrying count/null/min/
  * max-length/HLL together — one scan, one shuffle of K tiny buffers,
  * no Expand node. [[Profile.columns]] with exact=true remains the
  * oracle-comparable form. */
object ProfileSinglePass {
  def columns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    graft.expr.GraftFunctions.register(df.sparkSession)
    val aggs = cols.map(c => call_function("col_profile", col(Profile.bq(c))).as(s"${c}__pr"))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"${Profile.sqlStr(c)}, ${Profile.bq(c + "__pr")}").mkString(", ")
    row.select(expr(s"stack(${cols.size}, $stackArgs) as (col_name, pr)"))
      .select(col("col_name"), col("pr.n_rows"), col("pr.n_null"),
        col("pr.n_distinct_est"), col("pr.min_len"), col("pr.max_len"))
  }

  /** Per-column LENGTH quantiles in one aggregation pass
    * (percentile_approx — a mergeable per-partition sketch, the scale
    * companion of [[LengthHistogram]]'s full distribution): long-form
    * (col_name, p, len). Approximate by construction (accuracy 1/1e4),
    * so ScalaTest-verified against exact quantiles rather than
    * oracle-compared. Typed Column API throughout (column names are
    * never interpolated into SQL text); an all-null column keeps its
    * rows with null lengths rather than vanishing. */
  def lengthQuantiles(df: DataFrame, cols: Seq[String],
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(cols.nonEmpty, "lengthQuantiles needs at least one column")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probabilities must be in [0, 1]: $probs")
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      percentile_approx(length(col(Profile.bq(c))), typedlit(probs), lit(10000)).as(s"__q_$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val nullQs = array(probs.map(_ => lit(null).cast(LongType)): _*)
    val entries = explode(array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"),
        coalesce(col(s"__q_$i").cast("array<bigint>"), nullQs).as("qs"))
    }: _*))
    row.select(entries.as("e"))
      .select(col("e.col_name").as("col_name"),
        posexplode(col("e.qs")).as(Seq("i", "len")))
      .select(col("col_name"),
        element_at(typedlit(probs), col("i") + 1).as("p"),
        col("len"))
  }
}

/** Per-column length histogram — the profile's distribution component
  * (north star: "length histograms"), one groupBy pass per column set,
  * emitted long-form (col_name, bucket, n_rows) so arbitrary column
  * counts share one output schema. */
object LengthHistogram {
  def compute(df: DataFrame, cols: Seq[String], bucketWidth: Int): DataFrame = {
    val pairs = explode(array(cols.map(c =>
      struct(lit(c).as("col_name"),
        floor(length(col(Profile.bq(c))) / bucketWidth).cast(LongType).as("bucket"))): _*))
    df.select(pairs.as("p"))
      .select(col("p.col_name"), col("p.bucket"))
      .filter(col("bucket").isNotNull) // null values carry no length
      .groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
  }
}

/** Two-sample Kolmogorov–Smirnov distance over a bucketed numeric
  * derivation: one aggregation pass builds the per-side [[histogram]]
  * (a few hundred rows at most), the driver collects it and
  * [[ksFromHistogram]] reduces it to the statistic.
  * [[ValidationEngine.run]] builds the same histogram inside its keys
  * job and goes through the same reduction, so the two agree bit for
  * bit.
  */
object DriftCheck {
  /** The drift bucket of a numeric value: `floor(value / width)`; null
    * for a null value. */
  def bucket(value: Column, bucketWidth: Int): Column =
    floor(value / bucketWidth).cast(LongType)

  /** `(bucket, c0, c1)`: baseline and other row counts per bucket. Null
    * values carry no bucket (same rule as LengthHistogram) — a null
    * bucket would sort first and skew the CDF into measuring null-rate
    * difference instead of distribution drift. */
  def histogram(df: DataFrame, value: Column, baseline: Column,
      bucketWidth: Int): DataFrame =
    // a null selector is not baseline
    df.select(bucket(value, bucketWidth).as("bucket"),
        when(baseline, 1L).otherwise(0L).as("is_base"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket"))
      .agg(sum(col("is_base")).as("c0"), sum(lit(1L) - col("is_base")).as("c1"))

  /** One-row `ks_stat` frame. Runs the histogram job when called; the
    * statistic is null when either side has no bucketed rows. */
  def ks(df: DataFrame, value: Column, baseline: Column, bucketWidth: Int): DataFrame = {
    val hist = histogram(df, value, baseline, bucketWidth).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val stat: java.lang.Double = ksFromHistogram(hist).map(Double.box).orNull
    df.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(stat)),
      StructType(Seq(StructField("ks_stat", DoubleType))))
  }

  /** KS distance from `(bucket, c0, c1)` rows in any order, with the
    * arithmetic of the SQL form: each side's CDF is its running count
    * over its total as doubles, the distance is max |cdf0 - cdf1|,
    * rounded half-up to 9 digits from the shortest decimal form of the
    * double (what Spark's `round(x, 9)` does). None when the histogram
    * is empty or one side has no rows. */
  def ksFromHistogram(hist: Seq[(Long, Long, Long)]): Option[Double] = {
    val (t0, t1) = (hist.map(_._2).sum, hist.map(_._3).sum)
    if (t0 == 0 || t1 == 0) None
    else {
      val sorted = hist.sortBy(_._1)
      val cdf0 = sorted.scanLeft(0L)(_ + _._2).tail.map(_.toDouble / t0)
      val cdf1 = sorted.scanLeft(0L)(_ + _._3).tail.map(_.toDouble / t1)
      val d = cdf0.zip(cdf1).map { case (a, b) => math.abs(a - b) }.max
      Some(java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue)
    }
  }

  /** Population stability index over the same bucketed histogram as
    * [[ks]]: Σ (p1 - p0) * ln(p1 / p0) per bucket — the industry drift
    * score for training-data monitoring (rule of thumb: < 0.1 stable,
    * > 0.25 shifted). Zero-count buckets on either side use the
    * standard ε-floor so the log stays finite; one aggregation pass +
    * a tiny histogram reduction, same scale shape as [[ks]]. */
  def psi(df: DataFrame, value: Column, baseline: Column, bucketWidth: Int,
      eps: Double = 1e-6): DataFrame = {
    val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    histogram(df, value, baseline, bucketWidth)
      .select(
        greatest(col("c0").cast(DoubleType) / sum(col("c0")).over(all), lit(eps)).as("p0"),
        greatest(col("c1").cast(DoubleType) / sum(col("c1")).over(all), lit(eps)).as("p1"))
      .agg(round(sum((col("p1") - col("p0")) * log(col("p1") / col("p0"))), 9).as("psi"))
  }

  /** [[psi]] from two PRE-AGGREGATED `(bucket, n)` histograms — the
    * incremental-drift entry: per-partition histograms commit next to
    * the data (one agg pass over the append at ingest), and a later
    * drift check merges the tiny histogram rows instead of rescanning
    * content (SparkEntry `v_drift_incr` certifies zero data IO via
    * inputFiles). Buckets absent from one side zero-fill, then the
    * same ε-floor and rounding as [[psi]] so the two entries are
    * bit-identical on identical distributions. */
  def psiFromHists(h0: DataFrame, h1: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    val hist = h0.select(col("bucket"), col("n").as("c0"))
      .join(h1.select(col("bucket"), col("n").as("c1")),
        Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("c0", "c1"))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .select(
        greatest(col("c0").cast(DoubleType) / sum(col("c0")).over(all),
          lit(eps)).as("p0"),
        greatest(col("c1").cast(DoubleType) / sum(col("c1")).over(all),
          lit(eps)).as("p1"))
      .agg(round(sum((col("p1") - col("p0")) * log(col("p1") / col("p0"))),
        9).as("psi"))
  }

  /** Total-variation distance between the categorical distributions of
    * `value` on the baseline side vs the rest: sum |p0 - p1| / 2 over
    * categories, from one aggregation pass (the drift check for
    * low-cardinality columns like `lang`). */
  def categoricalTv(df: DataFrame, value: Column, baseline: Column): DataFrame = {
    val counts = df
      .select(value.as("v"), when(baseline, 1L).otherwise(0L).as("is_base"))
      .groupBy(col("v"))
      .agg(sum(col("is_base")).as("c0"), sum(lit(1L) - col("is_base")).as("c1"))
    val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .select(
        (col("c0").cast(DoubleType) / sum(col("c0")).over(all)).as("p0"),
        (col("c1").cast(DoubleType) / sum(col("c1")).over(all)).as("p1"))
      .agg(round(sum(abs(col("p0") - col("p1"))) / 2, 9).as("tv_dist"))
  }
}

/** Per-(org, rule) verdict grid: every logical partition × every rule,
  * with violation counts and pass flags — including all-pass cells
  * (cross join of the distinct orgs with the literal rule list, then a
  * broadcast-able left join of the counted violations).
  */
object Verdicts {
  /** Partition key of a repo. Null repos map to a sentinel partition
    * rather than SQL NULL: a NULL part silently falls out of the
    * non-null-safe verdict join (reporting pass=true for exactly the
    * rows Required("repo") flags) and NPEs the checkpointed runner's
    * partition loop — the dirtiest rows must still land in a partition
    * that gets graded. The DuckDB oracle's split_part never sees the
    * sentinel on the fixture (repo is non-null there); real corpora do. */
  def org(repoCol: Column): Column =
    coalesce(element_at(split(repoCol, "/"), 1), lit("__null__"))

  def compute(spark: SparkSession, files: DataFrame, rules: Seq[RowRule]): DataFrame = {
    import spark.implicits._
    val parts = files.select(org(col("repo")).as("part")).distinct()
    val ruleDf = rules.map(_.id).toDF("rule_id")
    val counts = Violations.extract(files, rules)
      .select(org(col("repo")).as("part"), col("rule_id"))
      .groupBy(col("part"), col("rule_id"))
      .agg(count(lit(1)).as("n"))
    parts.crossJoin(broadcast(ruleDf))
      .join(counts, Seq("part", "rule_id"), "left")
      .select(col("part"), col("rule_id"),
        coalesce(col("n"), lit(0L)).cast(LongType).as("violation_count"),
        (coalesce(col("n"), lit(0L)) === 0L).as("pass"))
  }
}

/** The whole north-rule check of one table in two scans and two main
  * jobs, with the results of the public functions it replaces:
  *
  *  - '''rows job''': one global aggregate over `files` — the row
  *    count, the failing-row count of every [[RowRule]] (what
  *    [[Violations.extract]] grouped by `rule_id` counts) and
  *    [[Profile.aggregates]] in HLL mode (what
  *    `Profile.columns(exact = false)` returns);
  *  - '''keys job''': one scan of `files`, each row exploded into
  *    tagged records that all go through one `groupBy(tag, keys…)`:
  *    tag 0 is the [[Unique]] key ([[Uniqueness.duplicates]]), tags 1
  *    and 3 the [[Drift]] bucket of a baseline and of another row
  *    ([[DriftCheck.histogram]]), tag 2 the non-null [[RefIntegrity]]
  *    value. The grouped rows keep the duplicate keys, the buckets and
  *    the distinct reference values; a broadcast anti-join against the
  *    manifest keys then drops the values the manifest holds, leaving
  *    the orphans ([[Referential.orphansKnownSize]]). The join runs on
  *    the few grouped rows, not per row, and needs no distinct on the
  *    manifest. A second, tiny aggregate in the same job reduces the
  *    result to one row per tag and per bucket, so the driver receives
  *    O(rules + columns + buckets) values, never O(rows) or
  *    O(duplicate groups).
  *
  * Null semantics are those of the functions replaced:
  *  - a NULL in a uniqueness key is a value like any other: rows whose
  *    keys are equal or both NULL column by column group together, so
  *    two rows `(NULL, p, c)` are a duplicate group;
  *  - a NULL drift value has no bucket and counts on neither side of
  *    the KS statistic;
  *  - a NULL reference value is a missing value, which the Required
  *    rule reports, not an orphan;
  *  - a row rule whose pass predicate is NULL on a row does not count
  *    that row as a violation.
  */
object ValidationEngine {

  /** Outcome of [[run]]. `violations` holds every row rule id, zero
    * counts included; `ks` is None when a drift side has no rows;
    * `phases` holds the wall seconds of the `rows` and `keys` jobs. */
  final case class Report(
      rows: Long,
      violations: Map[String, Long],
      duplicateGroups: Long,
      duplicateRows: Long,
      orphanKeys: Long,
      orphanRows: Long,
      profile: Seq[graft.model.ColumnProfile],
      ks: Option[Double],
      phases: Seq[(String, Double)])

  /** Check `files` against `rules`: its row rules plus exactly one
    * [[Unique]], one [[RefIntegrity]] (whose `refKey` is read from
    * `manifest`) and one [[Drift]], whose value is the length of its
    * column. `profileCols` are the profiled columns, `baseline` selects
    * the drift baseline rows. */
  def run(files: DataFrame, manifest: DataFrame, rules: Seq[Rule],
      profileCols: Seq[String], baseline: Column): Report = {
    def one[R <: Rule](rs: Seq[R], kind: String): R = {
      require(rs.size == 1, s"the engine needs exactly one $kind rule, got ${rs.size}")
      rs.head
    }
    val rowRules = rules.collect { case r: RowRule => r }
    val unique = one(rules.collect { case r: Unique => r }, "Unique")
    val ref = one(rules.collect { case r: RefIntegrity => r }, "RefIntegrity")
    val drift = one(rules.collect { case r: Drift => r }, "Drift")

    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }

    val agg = phase("rows")(files.agg(count(lit(1)),
      rowRules.map(r => count(when(!r.pass, true))) ++
        Profile.aggregates(profileCols, exact = false): _*).head())
    val rows = agg.getLong(0)
    val violations = rowRules.indices
      .groupMapReduce(i => rowRules(i).id)(i => agg.getLong(1 + i))(_ + _)
    val profile = profileCols.zipWithIndex.map { case (c, i) =>
      val at = 1 + rowRules.size + 4 * i
      def len(j: Int) = if (agg.isNullAt(j)) None else Some(agg.getLong(j))
      graft.model.ColumnProfile(c, rows, rows - agg.getLong(at), agg.getLong(at + 1),
        len(at + 2), len(at + 3))
    }

    val manifestKeys = broadcast(
      manifest.select(col(Profile.bq(ref.refKey)).as("__ref_key")))
    val records = keyRecords(files, unique, ref, drift, baseline)
    val summary = phase("keys")(records
      .groupBy(records.columns.toSeq.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("tag") =!= 0 || col("n") > 1) // tag 0: duplicate groups only
      .join(manifestKeys, col("ref") === col("__ref_key") && col("tag") === 2, "left_anti")
      .groupBy(col("tag"), col("bucket"))
      .agg(count(lit(1)).as("groups"), sum(col("n")).as("n"))
      .collect())
    def totals(tag: Int): (Long, Long) =
      summary.find(_.getInt(0) == tag).fold((0L, 0L))(r => (r.getLong(2), r.getLong(3)))
    val (dupGroups, dupRows) = totals(0)
    val (orphanKeys, orphanRows) = totals(2)
    def side(tag: Int): Map[Long, Long] =
      summary.filter(_.getInt(0) == tag).map(r => r.getLong(1) -> r.getLong(3)).toMap
    val (base, other) = (side(1), side(3))
    val hist = (base.keySet ++ other.keySet).toSeq
      .map(b => (b, base.getOrElse(b, 0L), other.getOrElse(b, 0L)))

    Report(rows, violations, dupGroups, dupRows, orphanKeys, orphanRows, profile,
      DriftCheck.ksFromHistogram(hist), phases.toSeq)
  }

  /** The tagged `(u0…, tag, bucket, ref)` records of the keys job: the
    * `u` fields hold the uniqueness key on tag 0, `bucket` the drift
    * bucket of a baseline row on tag 1 and of another row on tag 3,
    * `ref` the reference value on tag 2; the other fields are NULL.
    * The shuffle carries one tag-0 record per row, so the records hold
    * no field the groupBy does not need, and the fields that are
    * constant on tag 0 come last, where they compress as one run. */
  private def keyRecords(files: DataFrame, unique: Unique, ref: RefIntegrity,
      drift: Drift, baseline: Column): DataFrame = {
    def nullOf(c: String) = lit(null).cast(files.schema(c).dataType)
    def rec(tag: Column, keys: Seq[Column], bucket: Column, refValue: Column): Column =
      struct(keys.zipWithIndex.map { case (k, i) => k.as(s"u$i") } :+ tag.as("tag") :+
        bucket.as("bucket") :+ refValue.as("ref"): _*)
    val noKeys = unique.columns.map(nullOf)
    val noBucket = lit(null).cast(LongType)
    val refCol = col(Profile.bq(ref.column))
    val bucket = DriftCheck.bucket(length(col(Profile.bq(drift.column))), drift.bucketWidth)
    files
      .select(explode(array(
        rec(lit(0), unique.columns.map(c => col(Profile.bq(c))), noBucket,
          nullOf(ref.column)),
        when(bucket.isNotNull, rec(when(baseline, lit(1)).otherwise(lit(3)), noKeys, bucket,
          nullOf(ref.column))),
        when(refCol.isNotNull, rec(lit(2), noKeys, noBucket, refCol))
      )).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")
  }
}
