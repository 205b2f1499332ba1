package graft.sources

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Snapshot.{ColStats, FileEntry, TableSpec}

/** Differential spec for the write-time file description: the entries
  * [[DataFiles.write]] builds while writing must equal what the former
  * read-back aggregation (kept below as the reference) computes over
  * the same files — rows, bytes, every ColStats and the bloom bytes.
  */
class DataFilesSpec extends graft.SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-datafiles").toString

  // ---- reference: one aggregation over the written files ----

  private def statsSupported(f: StructField): Boolean = f.dataType match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  private def statsFields(schema: StructType, spec: TableSpec): Seq[StructField] = {
    val base =
      if (spec.statsCols.isEmpty) schema.fields.toSeq.take(Snapshot.MaxStatsCols)
      else schema.fields.toSeq.filter(f => spec.statsCols.contains(f.name))
    (base ++ schema.fields.toSeq.filter(f =>
      spec.partitionCols.contains(f.name) && !base.exists(_.name == f.name)))
      .filter(statsSupported)
  }

  private def statExpr(f: StructField) = f.dataType match {
    case DateType => unix_date(col(f.name))
    case TimestampType => unix_micros(col(f.name))
    case _ => col(f.name)
  }

  private def encodeStat(v: Any): Option[String] = v match {
    case null => None
    case s: String => if (s.length <= Snapshot.MaxStatsStringLen) Some(s) else None
    case d: java.lang.Double => if (d.isNaN) None else Some(d.toString)
    case fl: java.lang.Float => if (fl.isNaN) None else Some(fl.toString)
    case b: java.math.BigDecimal => Some(b.toPlainString)
    case other => Some(other.toString)
  }

  private def readBack(spark: SparkSession, absDir: String, relDir: String,
      schema: StructType, spec: TableSpec): Seq[FileEntry] = {
    val df = spark.read.schema(schema).parquet(absDir)
    val sf = statsFields(schema, spec)
    val bloomFlds = schema.fields.toSeq.filter(fl => spec.bloomCols.contains(fl.name))
    val aggs = (count(lit(1)).as("__rows") +:
      sf.flatMap(fld => Seq(
        min(statExpr(fld)).as(s"__min_${fld.name}"),
        max(statExpr(fld)).as(s"__max_${fld.name}"),
        sum(when(col(fld.name).isNull, 1L).otherwise(0L)).as(s"__nulls_${fld.name}")))) ++
      bloomFlds.map(fld => graft.functions.vector.bloomAgg(
        xxhash64(col(fld.name)), spec.bloomBits, Snapshot.BloomHashes).as(s"__bloom_${fld.name}"))
    val byName = df.groupBy(col("_metadata.file_path").as("__fp"),
        col("_metadata.file_size").as("__bytes"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val abs = r.getAs[String]("__fp")
        val name = abs.substring(abs.lastIndexOf('/') + 1)
        FileEntry(s"$relDir/$name", r.getAs[Long]("__bytes"), r.getAs[Long]("__rows"),
          sf.map { fld =>
            fld.name -> ColStats(
              encodeStat(r.getAs[Any](s"__min_${fld.name}")),
              encodeStat(r.getAs[Any](s"__max_${fld.name}")),
              r.getAs[Long](s"__nulls_${fld.name}"))
          }.toMap, None,
          bloomFlds.map(fld => fld.name ->
            java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](s"__bloom_${fld.name}"))).toMap)
      }.map(e => e.path -> e).toMap
    // a zero-row file forms no group: its aggregate is the empty one
    val emptyBloom = java.util.Base64.getEncoder.encodeToString(
      new graft.functions.BloomBuffer(spec.bloomBits, Snapshot.BloomHashes).serialize())
    new java.io.File(absDir).listFiles().map(_.getName).filter(_.startsWith("part-")).sorted
      .toSeq.map { name =>
        byName.getOrElse(s"$relDir/$name", FileEntry(s"$relDir/$name",
          new java.io.File(s"$absDir/$name").length(), 0L,
          sf.map(_.name -> ColStats(None, None, 0L)).toMap, None,
          bloomFlds.map(_.name -> emptyBloom).toMap))
      }
  }

  private def assertSameAsReadBack(df: DataFrame, spec: TableSpec): Seq[FileEntry] = {
    val dir = tmp()
    val written = DataFiles.write(spark, dir, df, spec = spec)
    val rel = written.head.path.take(written.head.path.lastIndexOf('/'))
    val ref = readBack(spark, s"$dir/$rel", rel, df.schema, spec)
    assert(written.map(_.path) == ref.map(_.path), "file sets differ")
    written.zip(ref).foreach { case (w, r) =>
      assert(w.rows == r.rows && w.bytes == r.bytes, s"${w.path}: $w vs $r")
      assert(w.stats == r.stats, s"${w.path} stats:\n  write-time ${w.stats}\n  read-back  ${r.stats}")
      assert(w.blooms == r.blooms, s"${w.path}: bloom bytes differ")
    }
    written
  }

  private val schema = StructType.fromDDL(
    "i INT, l BIGINT, f FLOAT, d DOUBLE, dec DECIMAL(12,3), s STRING, t STRING, " +
      "u STRING, b BOOLEAN, dt DATE, ts TIMESTAMP, allnull INT, k BIGINT")

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private val s64 = "x" * 64
  private val s65 = "y" * 65
  private val rowsAll: Seq[Row] = Seq(
    Row(3, 30L, 0.0f, 0.0, BigDecimal("1.250").bigDecimal, "b" + s64.drop(1), "a", "é",
      true, Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-01-01 00:00:00.123456"), null, 7L),
    Row(-1, Long.MinValue, -0.0f, -0.0, BigDecimal("-99.999").bigDecimal, s64, s65, "日本語",
      false, Date.valueOf("1969-12-31"), Timestamp.valueOf("1960-06-01 12:00:00"), null, null),
    Row(null, 5L, Float.NaN, Double.NaN, null, "a", "b", "😀z",
      null, null, null, null, 9L),
    Row(7, Long.MaxValue, 1.5f, -2.5, BigDecimal("0.001").bigDecimal, null, null, "ascii",
      true, Date.valueOf("2100-01-01"), Timestamp.valueOf("2038-01-19 03:14:08"), null, 7L))

  private val spec = TableSpec(bloomCols = Seq("k", "s"), bloomBits = 1 << 12)

  test("write-time entries equal the read-back aggregation for every stats-eligible type") {
    val written = assertSameAsReadBack(frame(rowsAll, 1), spec)
    assert(written.size == 1)
    val st = written.head.stats
    // the fixture really reaches the edge cases it is meant to cover
    assert(st("allnull") == ColStats(None, None, 4L))
    assert(st("d").max.isEmpty && st("f").max.isEmpty, "a NaN max is not a bound")
    assert(st("s").max.contains(s64) && st("t").max.isEmpty,
      "64 chars keep the stat, 65 drop it")
    assert(written.head.blooms.keySet == Set("k", "s"))
  }

  test("write-time entries equal the read-back aggregation across tasks, per file") {
    val many = (0 until 40).map(i =>
      Row.fromSeq(rowsAll(i % rowsAll.size).toSeq.updated(0, if (i % 5 == 0) null else i)))
    val written = assertSameAsReadBack(frame(many, 3), spec)
    assert(written.size == 3 && written.map(_.rows).sum == 40L)
  }

  test("a partitioned spec takes the clustered path and still matches the read-back") {
    val parted = (0 until 40).map(i => Row.fromSeq(rowsAll(i % rowsAll.size).toSeq.updated(0, i % 3)))
    val pspec = spec.copy(partitionCols = Seq("i"), statsCols = Seq("l"))
    val written = assertSameAsReadBack(frame(parted, 1), pspec)
    // the partition column carries stats although statsCols names only `l`
    assert(written.forall(e => e.stats.keySet == Set("i", "l")))
    assert(written.map(_.rows).sum == 40L)
  }
}
