package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

/** Tables.schemaOf: a table's parquet schema is inferred once per state
  * of its files and per inference-relevant session conf.
  */
class TablesSpec extends SparkSpec {

  private def tempDir(): String =
    Files.createTempDirectory("graft_tables").toString

  test("a warm Tables.table call starts no Spark job and returns an equal schema") {
    val first = Tables.table(spark, sfDir, "lineitem").schema
    var again: StructType = null
    assert(jobs { again = Tables.table(spark, sfDir, "lineitem").schema } == 0)
    assert(again == first)
    assert(first == spark.read.parquet(s"$sfDir/lineitem.parquet").schema)
  }

  test("a fixture rewritten at the same path with different columns resolves the new schema") {
    val dir = tempDir()
    spark.range(10).select(col("id").as("a"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(10).select(col("id").as("b"), (col("id") * 2).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("b", "c"))
    assert(t.agg(sum("c")).head().getLong(0) == 90)
  }

  test("a directory-form events.parquet that gains a part file is resolved again") {
    val dir = tempDir()
    val events = Paths.get(s"$dir/events.parquet")
    spark.range(0, 20, 1, 2).select(col("id").as("k"))
      .write.parquet(events.toString)
    assert(jobs(Tables.table(spark, dir, "events")) == 1)
    assert(jobs(Tables.table(spark, dir, "events")) == 0)
    // a part file lands in the directory, as ScaleSynth writes them
    val extra = s"$dir/extra.parquet"
    spark.range(20, 30).select(col("id").as("k"))
      .coalesce(1).write.parquet(extra)
    val part = Files.list(Paths.get(extra)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, events.resolve("part-99999-extra.snappy.parquet"))
    assert(jobs(Tables.table(spark, dir, "events")) == 1)
    assert(Tables.table(spark, dir, "events").count() == 30)
  }

  test("sessions that differ in binaryAsString each get their own schema") {
    val dir = tempDir()
    // an unannotated BINARY column with no Spark schema in the footer:
    // only binaryAsString decides its type
    val pq = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/bin.parquet"))
      .withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup().append("b", "x"))
    finally w.close()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.table(spark, dir, "bin").schema("b").dataType == BinaryType)
    assert(Tables.table(asString, dir, "bin").schema("b").dataType == StringType)
    assert(Tables.table(asString, dir, "bin").head().getString(0) == "x")
    assert(jobs(Tables.table(spark, dir, "bin")) == 0)
    assert(Tables.table(spark, dir, "bin").schema("b").dataType == BinaryType)
  }

  test("concurrent first calls on one file infer its schema once") {
    val dir = tempDir()
    spark.range(100).select(col("id"), (col("id") % 7).as("m"))
      .coalesce(1).write.parquet(s"$dir/race.parquet")
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      var schemas: Seq[StructType] = Nil
      val n = jobs {
        val fs = Seq.fill(4)(pool.submit(new Callable[StructType] {
          def call(): StructType = {
            go.await()
            Tables.table(spark, dir, "race").schema
          }
        }))
        go.countDown()
        schemas = fs.map(_.get(60, TimeUnit.SECONDS))
      }
      assert(n == 1, s"inference ran $n jobs for 4 concurrent first calls")
      assert(schemas.distinct.size == 1 &&
        schemas.head.fieldNames.toSeq == Seq("id", "m"))
    } finally pool.shutdownNow()
  }
}
