package graft

import graft.model.ColumnProfile
import graft.rules._
import graft.synth.FilesTable
import graft.validate._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** [[ValidationEngine.run]] against the public functions it replaces,
  * on the planted-defect fixture and on hand-made edge rows. */
class ValidationEngineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  val profileCols = Seq("repo", "path", "commit", "lang", "content")
  val baseline: Column = col("doc_id") % 2 === 0

  /** Everything the engine reports, from the separate functions. */
  def separately(files: DataFrame, manifest: DataFrame,
      rowRules: Seq[RowRule]): ValidationEngine.Report = {
    val byRule = Violations.extract(files, rowRules).groupBy("rule_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def groupsAndRows(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum("n_rows"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (dupGroups, dupRows) =
      groupsAndRows(Uniqueness.duplicates(files, FileRules.unique.columns))
    val (orphanKeys, orphanRows) = groupsAndRows(Referential.orphansKnownSize(
      files, manifest, "repo", "repo", broadcastDim = true))
    val ks = DriftCheck.ks(files, length(col("content")), baseline,
      FileRules.drift.bucketWidth).head()
    ValidationEngine.Report(files.count(),
      rowRules.map(r => r.id -> byRule.getOrElse(r.id, 0L)).toMap,
      dupGroups, dupRows, orphanKeys, orphanRows,
      Profile.columns(files, profileCols, exact = false).as[ColumnProfile].collect().toSeq,
      if (ks.isNullAt(0)) None else Some(ks.getDouble(0)), Nil)
  }

  def engine(files: DataFrame, manifest: DataFrame,
      rowRules: Seq[RowRule]): ValidationEngine.Report =
    ValidationEngine.run(files, manifest,
      rowRules ++ Seq(FileRules.unique, FileRules.ref, FileRules.drift),
      profileCols, baseline)

  def assertSame(got: ValidationEngine.Report, want: ValidationEngine.Report): Unit = {
    assert(got.phases.map(_._1) === Seq("rows", "keys"))
    assert(got.copy(phases = Nil, ks = None) === want.copy(ks = None))
    // KS bit for bit, not within a tolerance
    assert(got.ks.map(java.lang.Double.doubleToRawLongBits) ===
      want.ks.map(java.lang.Double.doubleToRawLongBits))
  }

  test("engine equals the separate checks on the planted-defect fixture") {
    val files = FilesTable.files(spark, sf)
    val manifest = FilesTable.repoManifest(spark, sf)
    val got = engine(files, manifest, FileRules.rowRules)
    assertSame(got, separately(files, manifest, FileRules.rowRules))
    // the frozen figures of ValidationSpec, reached through the engine
    assert(got.rows === 505L)
    assert(got.violations("sha256_content") === 6L)
    assert(got.violations("required_repo") === 0L)
    assert((got.duplicateGroups, got.duplicateRows) === ((5L, 10L)))
    assert((got.orphanKeys, got.orphanRows) === ((7L, 26L)))
    assert(got.ks === Some(0.075553673))
  }

  test("engine edge rows: NULL keys group, NULL content has no bucket, " +
      "NULL repo is no orphan, a clean rule counts zero") {
    def sha(s: String) = if (s == null) null else
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val rows = Seq[(String, String, String, String, String, Long)](
      ("a/b", "src/x", "abc1234", "en", "hello", 0L),
      (null, "src/y", "abc1234", "en", "hi there", 1L),
      (null, "src/y", "abc1234", "fr", "hi there", 2L), // NULL-key duplicate
      ("a/b", "src/z", "abc1234", "en", null, 3L),      // no drift bucket
      ("zz/q", "src/w", "abc1234", "en", "x" * 100, 4L)) // the only orphan
    val files = rows.map { case (r, p, c, l, t, id) => (r, p, c, l, t, sha(t), id) }
      .toDF("repo", "path", "commit", "lang", "content", "content_sha256", "doc_id")
    // a repeated and a NULL manifest key: neither may change the counts
    val manifest = Seq("a/b", "a/b", null).toDF("repo")
    val rules = FileRules.rowRules :+ Check("check_never", "doc_id", lit(true))
    val got = engine(files, manifest, rules)
    assertSame(got, separately(files, manifest, rules))
    assert(got.violations("check_never") === 0L)
    assert(got.violations("required_repo") === 2L)
    assert((got.duplicateGroups, got.duplicateRows) === ((1L, 2L)))
    assert((got.orphanKeys, got.orphanRows) === ((1L, 1L)))
    // baseline buckets {0, 0, 1}, other side {0}: the content-NULL row
    // (doc_id 3) is on neither side
    assert(got.ks === Some(0.333333333))
    assert(got.profile.find(_.col_name == "content").get.n_null === 1L)
  }

  test("engine needs one Unique, one RefIntegrity and one Drift rule") {
    val files = FilesTable.files(spark, sf)
    val e = intercept[IllegalArgumentException](ValidationEngine.run(files,
      FilesTable.repoManifest(spark, sf), FileRules.rowRules, profileCols, baseline))
    assert(e.getMessage.contains("Unique"))
  }

  /** The KS statistic as a Spark window plan: running sums over the
    * bucket order, `round(max|Δcdf|, 9)`. */
  def ksWindows(df: DataFrame, value: Column, base: Column, width: Int): Option[Double] = {
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r = DriftCheck.histogram(df, value, base, width)
      .select(
        (sum(col("c0")).over(cum).cast(DoubleType) / sum(col("c0")).over(all)).as("cdf0"),
        (sum(col("c1")).over(cum).cast(DoubleType) / sum(col("c1")).over(all)).as("cdf1"))
      .agg(round(max(abs(col("cdf0") - col("cdf1"))), 9)).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("driver-side KS is bit-equal to the Spark window arithmetic") {
    val files = FilesTable.files(spark, sf)
    val skewed = spark.range(0, 5000).select(col("id").as("doc_id"),
      (pmod(col("id") * 7919, lit(997)) + when(col("id") % 3 === 0, col("id") % 41)
        .otherwise(lit(0L))).cast(LongType).as("v"))
    for ((df, v, w) <- Seq((files, length(col("content")), 64),
        (files, length(col("path")), 1), (skewed, col("v"), 1), (skewed, col("v"), 13))) {
      val got = DriftCheck.ks(df, v, baseline, w).head()
      assert(!got.isNullAt(0))
      assert(Some(java.lang.Double.doubleToRawLongBits(got.getDouble(0))) ===
        ksWindows(df, v, baseline, w).map(java.lang.Double.doubleToRawLongBits))
    }
  }

  test("KS is NULL when one side has no rows") {
    val oneSide = Seq((0L, "abc"), (2L, "abcdef")).toDF("doc_id", "content")
    assert(DriftCheck.ks(oneSide, length(col("content")), baseline, 2).head().isNullAt(0))
    assert(DriftCheck.ksFromHistogram(Nil).isEmpty)
  }
}
