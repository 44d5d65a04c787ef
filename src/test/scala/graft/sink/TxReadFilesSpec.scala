package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `TxTable.readFiles` plans from batch footers: no Spark job per
  * committed batch, and the schema Spark's own inference would give —
  * names, order, types, nullability — for every layout and type flag.
  */
class TxReadFilesSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): String =
    java.nio.file.Files.createTempDirectory("graft-txread").toString + "/tbl"

  /** What readFiles replaced: one inferred read per batch, unioned. */
  private def inferred(table: String, files: Seq[String]): DataFrame = {
    val grouped = files.groupBy(_.split("/", 2)(0))
    files.map(_.split("/", 2)(0)).distinct
      .map(b => spark.read.option("basePath", s"$table/$b")
        .parquet(grouped(b).map(f => s"$table/$f"): _*))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameSchemaAsInference(table: String): Unit = {
    val files = TxTable.currentFiles(spark, table)
    // 0 jobs: the footer path served every batch, not the fallback
    val (got, jobs) = jobsRan(TxTable.readFiles(spark, table, files))
    assert(jobs == 0, s"$jobs inference jobs")
    val want = inferred(table, files)
    assert(got.schema == want.schema,
      s"\nfooter:   ${got.schema.treeString}\ninferred: ${want.schema.treeString}")
    assert(rows(got) == rows(want))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", " ", "]")
      case v => String.valueOf(v)
    }.mkString(",")).sorted.toSeq

  private def commitPartitioned(table: String, df: DataFrame, by: String*): Unit =
    TxTable.commit(spark, table, TxTable.stageBatch(spark, df, table, partitionBy = by),
      removed = Nil)

  /** One parquet file written by parquet-hadoop, not Spark: no Spark
    * schema in its footer, so the converter flags decide the types.
    */
  private def writeForeign(table: String, schema: String, rows: Int)
                          (fill: (SimpleGroup, Int) => Unit): Unit = {
    val batch = "batch-" + java.util.UUID.randomUUID().toString.take(12)
    val file = s"$batch/part-00000.parquet"
    val mt = MessageTypeParser.parseMessageType(schema)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(s"$table/$file"), conf))
      .withConf(conf).withType(mt).build()
    try (0 until rows).foreach { i =>
      val g = new SimpleGroup(mt); fill(g, i); w.write(g)
    } finally w.close()
    TxTable.commit(spark, table, Seq(file), removed = Nil)
  }

  test("readFiles plans five committed batches with no Spark job, partitioned and flat") {
    val flat = mk()
    (1 to 5).foreach(i => TxTable.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), flat))
    val parted = mk()
    (1 to 5).foreach { i =>
      commitPartitioned(parted,
        Seq((i.toLong, i % 2, s"d$i"), (i + 10L, 7, s"e$i")).toDF("id", "p", "q"), "p", "q")
    }
    for ((t, rows) <- Seq(flat -> 5L, parted -> 10L)) {
      val files = TxTable.currentFiles(spark, t)
      assert(files.map(_.split("/", 2)(0)).distinct.size == 5)
      val (df, jobs) = jobsRan(TxTable.readFiles(spark, t, files))
      assert(jobs == 0, s"$t: planning a 5-batch read ran $jobs jobs")
      assert(jobsRan(TxTable.read(spark, t))._2 == 0)
      assert(df.count() == rows)
    }
  }

  test("readFiles' footer schema equals inference: partitioned batches") {
    val t = mk()
    commitPartitioned(t, Seq((1L, 3, "x", 1.5)).toDF("id", "p", "s", "d"), "p")
    commitPartitioned(t, Seq((2L, 4, "y", 2.5), (3L, 5, "z", 3.5)).toDF("id", "p", "s", "d"),
      "p", "s")
    sameSchemaAsInference(t)
  }

  test("readFiles' footer schema equals inference: a later batch adds a column") {
    val t = mk()
    TxTable.append(spark, Seq((1L, "a")).toDF("id", "v"), t)
    TxTable.append(spark, Seq((2L, "b", 7)).toDF("id", "v", "w"), t)
    TxTable.append(spark, Seq((3, 3L)).toDF("w", "id"), t)
    // non-nullable columns in the writer's schema (a literal and an id)
    TxTable.append(spark, spark.range(2).select(col("id"), lit("k").as("v")), t)
    sameSchemaAsInference(t)
  }

  test("readFiles' footer schema equals inference: INT96 and TIMESTAMP_NTZ timestamps") {
    val t = mk()
    val ts = Seq(("2023-01-10 10:00:00", "2023-01-10 11:00:00")).toDF("a", "b")
      .select(to_timestamp($"a").as("ts"), to_timestamp_ntz($"b").as("ntz"))
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96")(TxTable.append(spark, ts, t))
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(
      TxTable.append(spark, ts, t))
    writeForeign(t,
      """message m { required int96 ts; optional int64 ntz (TIMESTAMP(MICROS,false));
        |  optional binary raw; }""".stripMargin, 2) { (g, i) =>
      // INT96 = nanos of day (8 bytes LE) + Julian day (4 bytes LE)
      val int96 = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(3600L * 1000000000L * i).putInt(2460000).array()
      g.add("ts", org.apache.parquet.io.api.Binary.fromConstantByteArray(int96))
      g.add("ntz", 1700000000000000L + i)
      g.add("raw", s"r$i")
    }
    sameSchemaAsInference(t)
    // the converter flags come from the session conf, as inference's do
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.parquet.binaryAsString" -> "true")(sameSchemaAsInference(t))
  }

  test("readFiles' footer schema equals inference: a nanosecond column under nanosAsLong") {
    val t = mk()
    writeForeign(t, "message m { required int64 id; optional int64 ns (TIMESTAMP(NANOS,true)); }",
      3) { (g, i) => g.add("id", i.toLong); g.add("ns", 1700000000123456789L + i) }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      sameSchemaAsInference(t)
      assert(TxTable.read(spark, t).schema("ns").dataType ==
        org.apache.spark.sql.types.LongType)
    }
    // without the flag the footer is unreadable as Spark types: readFiles
    // falls back to inference and fails the way inference does
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val files = TxTable.currentFiles(spark, t)
      val want = intercept[Exception](inferred(t, files).collect())
      val got = intercept[Exception](TxTable.readFiles(spark, t, files).collect())
      assert(got.getClass == want.getClass)
    }
  }
}
