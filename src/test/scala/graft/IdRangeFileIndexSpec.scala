package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.IdRangeFileIndex
import graft.engine.LopqSearcher

/** File skipping by footer id range: every filter shape returns exactly the
  * rows of a plain parquet read of the same files, the scan opens only the
  * files whose range holds a candidate, and a rewritten file's range is
  * read again. */
class IdRangeFileIndexSpec extends SparkSpec {

  private val root = System.getProperty("user.dir") + "/target/graft-index-test/id_range"
  private val Files = 8
  private val PerFile = 500

  private def deleteDir(d: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(d)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** `Files` id-ordered files of `PerFile` rows each: file i holds ids
    * [i·PerFile, (i+1)·PerFile), as `idType`. */
  private def sortedTable(name: String, idType: String): String = {
    val d = s"$root/$name"
    deleteDir(d)
    spark.range(0, Files * PerFile, 1, Files)
      .select(col("id").cast(idType).as("id"), (col("id") * 3).as("payload"))
      .write.parquet(d)
    d
  }

  /** The plain read's rows and the wrapped read's rows under `filter`, and
    * the files the wrapped scan read. */
  private def both(dir: String, filter: Option[Column]): (Seq[String], Seq[String], Long) = {
    def rows(df: DataFrame) = filter.fold(df)(df.where).collect().map(_.toString).toSeq.sorted
    val wrapped = IdRangeFileIndex.wrap(spark.read.parquet(dir), "id")
    val filtered = filter.fold(wrapped)(wrapped.where)
    val got = filtered.collect().map(_.toString).toSeq.sorted
    val files = fileScans(filtered.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    (rows(spark.read.parquet(dir)), got, files)
  }

  private def filesHolding(ids: Seq[Long]): Long =
    ids.filter(i => i >= 0 && i < Files * PerFile).map(_ / PerFile).distinct.size.toLong

  for (idType <- Seq("bigint", "int")) {
    test(s"$idType ids: every filter shape reads the plain rows and only the files holding a candidate") {
      val dir = sortedTable(s"sorted_$idType", idType)
      val inSetThreshold = "spark.sql.optimizer.inSetConversionThreshold"
      // literals of the column's own type: a wider literal would wrap the
      // column in a cast, a shape the index leaves alone
      def lits(ids: Seq[Long]): Seq[Any] = if (idType == "int") ids.map(_.toInt) else ids
      def check(label: String, ids: Seq[Long]): Unit = {
        val filter = if (ids.size == 1) col("id") === lits(ids).head else col("id").isin(lits(ids): _*)
        val (plain, got, files) = both(dir, Some(filter))
        assert(got === plain, label)
        assert(files === filesHolding(ids), s"$label: read $files files")
      }
      check("EqualTo", Seq(1234L))
      check("In", Seq(3L, 1200L, 3999L))
      val rnd = new scala.util.Random(5)
      val few = Seq.fill(300)(rnd.nextInt(2 * PerFile).toLong)
      val many = Seq.fill(600)(rnd.nextInt(3 * PerFile).toLong)
      // In with hundreds of literals stays In only above the optimizer's
      // InSet conversion threshold; 300 is pushed to parquet, 600 is not
      spark.conf.set(inSetThreshold, "100000")
      try {
        LopqSearcher.ensureInPushdown(spark, few.size)
        check("In, 300 pushed", few)
        check("In, 600 not pushed", many)
      } finally spark.conf.unset(inSetThreshold)
      check("InSet", many)
      check("ids held by no file", Seq(-5L, 100000L, 100001L))
      val (plain, got, files) = both(dir, None)
      assert(got === plain && plain.size === Files * PerFile)
      assert(files === Files, "no id filter reads every file")
    }
  }

  test("the plan keeps the pushed filters and the table's size statistics") {
    val dir = sortedTable("sorted_plan", "bigint")
    val plain = spark.read.parquet(dir)
    val wrapped = IdRangeFileIndex.wrap(plain, "id")
    assert(wrapped.queryExecution.optimizedPlan.stats.sizeInBytes ===
      plain.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(wrapped.inputFiles.toSeq.sorted === plain.inputFiles.toSeq.sorted)
    val plan = wrapped.where(col("id").isin(1, 2, 3)).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(id"), plan)
  }

  test("overlapping file ranges and a file of only null ids keep every row") {
    val dir = s"$root/unsorted"
    deleteDir(dir)
    // round-robin rows: every file spans nearly the whole id range
    spark.range(0, 3000, 1, 3).repartition(6)
      .select(col("id"), (col("id") * 3).as("payload")).write.parquet(dir)
    spark.range(0, 50, 1, 1)
      .select(lit(null).cast("bigint").as("id"), col("id").as("payload"))
      .write.mode("append").parquet(dir)
    // each file's actual id range; the null-only file has none
    val ranges = spark.read.parquet(dir).inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f).agg(min("id"), max("id")).head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }
    assert(ranges.count(_.isEmpty) === 1)
    // an id filter reads the files whose range holds a candidate, so never
    // the null-only file; other shapes read every file
    for ((f, ids) <- Seq[(Column, Option[Seq[Long]])](
        (col("id") === 17, Some(Seq(17L))), (col("id").isin(5, 2999), Some(Seq(5L, 2999L))),
        (col("id").isin(0 until 40: _*), Some((0L until 40L).toSeq)),
        (col("id").isNull, None), (col("id") > 2990, None))) {
      val (plain, got, files) = both(dir, Some(f))
      assert(got === plain, f.toString)
      val expected = ids.fold(ranges.size)(vs =>
        ranges.count(_.exists { case (lo, hi) => vs.exists(v => lo <= v && v <= hi) }))
      assert(files === expected, s"$f read $files of ${ranges.size} files")
    }
  }

  test("a STRING id column keeps every file") {
    val dir = s"$root/string_ids"
    deleteDir(dir)
    spark.range(0, 2000, 1, 4).select(col("id").cast("string").as("id"), col("id").as("payload"))
      .write.parquet(dir)
    val (plain, got, files) = both(dir, Some(col("id") === "17"))
    assert(got === plain && plain.size === 1)
    assert(files === 4)
  }

  test("footer ranges are read once per file version") {
    val dir = sortedTable("sorted_rewrite", "bigint")
    val q = col("id").isin(10, 2600)
    val before = IdRangeFileIndex.footersRead.get
    assert(both(dir, Some(q))._3 === 2)
    assert(IdRangeFileIndex.footersRead.get - before === Files, "first lookup reads every footer")
    assert(both(dir, Some(q))._3 === 2)
    assert(IdRangeFileIndex.footersRead.get - before === Files, "a fresh relation rereads nothing")
    // rewrite file 0 in place with another table's rows (ids 100000…)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = spark.read.parquet(dir).inputFiles.sorted.head
    val other = s"$root/other"
    deleteDir(other)
    spark.range(100000, 100700, 1, 1).select(col("id"), (col("id") * 3).as("payload"))
      .write.parquet(other)
    val src = spark.read.parquet(other).inputFiles.head
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src), fs,
      new org.apache.hadoop.fs.Path(first), false, true, spark.sparkContext.hadoopConfiguration)
    spark.catalog.refreshByPath(dir)
    val moved = col("id").isin(10, 100003)
    val (plain, got, files) = both(dir, Some(moved))
    assert(IdRangeFileIndex.footersRead.get - before === Files + 1, "the rewritten file is reread")
    assert(got === plain && plain.size === 1, "id 10 is gone, id 100003 is in the rewritten file")
    assert(files === 1)
  }
}
