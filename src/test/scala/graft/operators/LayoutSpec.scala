package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class LayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Rows the parquet reader actually emitted for this query (post
    * row-group min/max skipping, pre any later filter).
    */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
  }

  test("range-sorted layout prunes row groups the filter cannot match") {
    val n = 200000L
    val rnd = new scala.util.Random(5)
    // shuffled key order: every row group of a naive write spans ~the full
    // key range, so nothing can min/max-skip
    val data = rnd.shuffle((0L until n).toVector).toDF("k")
      .withColumn("payload", concat(lit("row "), col("k")))
    val base = java.nio.file.Files.createTempDirectory("graft_layout_spec").toString
    data.write.mode("overwrite").option("parquet.block.size", "65536").parquet(s"$base/naive")
    Layout.writeSorted(data, s"$base/sorted", Seq("k"), rowGroupBytes = Some(65536L))

    // one execution per layout: scanOutputRows collects, so row count and
    // scan metric come from the same run
    def readCount(path: String): (Long, Long) = {
      val q = spark.read.parquet(path).filter(col("k") >= 1000 && col("k") < 2000)
      val scanned = scanOutputRows(q)
      (q.count(), scanned)
    }
    val (naiveRows, naiveScanned) = readCount(s"$base/naive")
    val (sortedRows, sortedScanned) = readCount(s"$base/sorted")
    assert(naiveRows == 1000 && sortedRows == 1000) // same answer either way
    // The sorted layout's scan emits a small fraction of the naive one's:
    // row groups outside [1000, 2000) min/max-miss and never reach the reader.
    assert(sortedScanned < naiveScanned / 10,
      s"sorted layout scanned $sortedScanned rows vs naive $naiveScanned — pruning not engaged")
    assert(sortedScanned >= 1000)
  }

  test("zOrderKey matches a bit-twiddling local reference") {
    def local(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(11)
    val cases = Seq((0L, 0L), (255L, 255L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(200)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zOrderKey(col("a"), col("b"), 8).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == local(r.getLong(0), r.getLong(1), 8),
        s"morton(${r.getLong(0)}, ${r.getLong(1)}) = ${r.getLong(2)}")
    }
  }

  test("z-ordered layout prunes on BOTH dimensions; linear sort only on its leading one") {
    val n = 200000
    val rnd = new scala.util.Random(7)
    // two independent uniform keys: lexicographic sort on x leaves y
    // shuffled inside every row group, so a y-filter can never skip
    val data = (0 until n).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder_spec").toString
    Layout.writeSorted(data, s"$base/byx", Seq("x"), rowGroupBytes = Some(65536L))
    Layout.writeZOrdered(data, s"$base/z", "x", "y", bits = 8, rowGroupBytes = Some(65536L))

    def readCount(path: String, filter: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.parquet(path).filter(filter)
      val scanned = scanOutputRows(q)
      (q.count(), scanned)
    }
    // y-only slab, 1/16 of the space: invisible to the x-sort, a narrow
    // band of Morton tiles for the z-order
    val yOnly = col("y") < 4096
    val (rowsByX, scanByX) = readCount(s"$base/byx", yOnly)
    val (rowsByZ, scanByZ) = readCount(s"$base/z", yOnly)
    assert(rowsByX == rowsByZ) // same answer either way
    assert(scanByX > (n * 9L) / 10,
      s"x-sorted layout scanned $scanByX of $n on a y filter — expected ~no pruning")
    assert(scanByZ < n / 3L,
      s"z-ordered layout scanned $scanByZ of $n on a y filter — tiles not localized")
    // box predicate on both dimensions: the z-order tiles it down further
    val box = col("x") < 16384 && col("y") < 16384
    val (rowsBox, scanBox) = readCount(s"$base/z", box)
    assert(rowsBox > 0 && scanBox < n / 4L,
      s"z-ordered layout scanned $scanBox of $n on a 1/16-area box")
  }

  test("guards: missing sort column") {
    val df = Seq((1L, "x")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_guard").toString
    intercept[IllegalArgumentException] {
      Layout.writeSorted(df, s"$dir/a", Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Layout.writeSorted(df, s"$dir/b", Seq())
    }
  }

  test("footerLongMax equals agg(max) on int64/int32 columns, None when unsafe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_footer_max").toString
    val df = (0L until 5000L).toDF("a")
      .withColumn("b", (col("a") * 7 % 1234).cast("int"))
      .withColumn("s", concat(lit("v"), col("a")))
    // multi-file + multi-row-group so the fold crosses both boundaries
    df.repartition(3).write.mode("overwrite")
      .option("parquet.block.size", "65536").parquet(s"$dir/t")
    val got = Layout.footerLongMax(spark, s"$dir/t", Seq("a", "b"))
    val want = spark.read.parquet(s"$dir/t")
      .agg(max(col("a")), max(col("b").cast("long"))).head()
    assert(got.contains(Map("a" -> want.getLong(0), "b" -> want.getLong(1))),
      s"footer stats $got != scan max $want")
    // non-integer column: refuses rather than guessing
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("s")).isEmpty)
    // missing column: refuses
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("nope")).isEmpty)
    // empty dir: refuses
    assert(Layout.footerLongMax(spark, s"$dir/empty", Seq("a")).isEmpty)
    // scheme-qualified path (the non-java.io.File shape every remote
    // FileSystem hands out): the Hadoop listing must resolve it — the old
    // local-FS listing saw no directory here and forfeited to the scan
    // (r22: footerLongMax must survive non-local storage)
    val viaScheme = Layout.footerLongMax(spark, s"file:$dir/t", Seq("a", "b"))
    assert(viaScheme == got, s"scheme-qualified listing $viaScheme != local $got")
  }

  test("footerLongMax skips `_`/`.`-prefixed part files, as the scan's file index does") {
    val dir = java.nio.file.Files.createTempDirectory("graft_footer_hidden").toString
    (0L until 100L).toDF("a").write.mode("overwrite").parquet(s"$dir/t")
    // a stale staged file with a much larger max, planted under both
    // hidden prefixes: Spark's InMemoryFileIndex never reads it
    (0L until 10L).map(_ + 1000000L).toDF("a").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/big")
    val bigPart = new java.io.File(s"$dir/big").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head.toPath
    Seq("_staged.parquet", ".hidden.parquet").foreach { n =>
      java.nio.file.Files.copy(bigPart, java.nio.file.Paths.get(s"$dir/t", n))
    }
    val scanMax = spark.read.parquet(s"$dir/t").agg(max(col("a"))).head().getLong(0)
    assert(scanMax == 99L)
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("a")).contains(Map("a" -> scanMax)))
  }

  test("footerLongMax refuses int-BACKED logical types whose stats are raw physical values (r21)") {
    // decimal(10,2) is int64-backed in parquet: its footer max is the
    // UNSCALED long (12345 for 123.45) wrapped in a java.lang.Long — a
    // runtime-class match alone would return a 100x-wrong bound. Same for
    // date (int32-backed days) and timestamp. The logical-type gate must
    // send all of these to the scan fallback.
    val dir = java.nio.file.Files.createTempDirectory("graft_footer_logical").toString
    (0L until 100L).toDF("a")
      .withColumn("dec", (col("a") / 100.0).cast("decimal(10,2)"))
      .withColumn("dt", to_date(lit("2026-01-01")))
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      .write.mode("overwrite").parquet(s"$dir/t")
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("dec")).isEmpty)
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("dt")).isEmpty)
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("ts")).isEmpty)
    // the plain long column next to them still answers
    assert(Layout.footerLongMax(spark, s"$dir/t", Seq("a")).contains(Map("a" -> 99L)))
  }
}
