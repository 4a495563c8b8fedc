package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers a table's parquet schema once per JVM: a repeat
  * load starts no Spark job, and none of the key's parts (path, leaf-file
  * listing, the session's parquet-reader settings) can be left out
  * without serving a stale schema. */
class SchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_schema_cache").toString

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSpark.drainListeners(sc)
    sc.addSparkListener(counter)
    try {
      val a = body
      GraftSpark.drainListeners(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("a repeat load's schema starts no job") {
    val dir = tmp()
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    Seq(Tuple1(1L)).toDF("event_id")
      .withColumn("ts", timestamp_micros(lit(1709618828123456L)).cast(TimestampNTZType))
      .write.parquet(s"$dir/events.parquet")
    for (name <- Seq("documents", "events")) {
      val (first, inferJobs) = jobsDuring(Tables.load(spark, dir, name).schema)
      val (again, repeatJobs) = jobsDuring(Tables.load(spark, dir, name).schema)
      assert(inferJobs >= 1, s"$name: the first load infers with a job of its own")
      assert(repeatJobs == 0, s"$name: a repeat load started $repeatJobs jobs")
      assert(again == first)
    }
  }

  test("a table rewritten in place with another schema is inferred again") {
    val dir = tmp()
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").schema.fieldNames.toSeq == Seq("doc_id"))
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val reread = Tables.load(spark, dir, "documents")
    assert(reread.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    assert(reread.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("a session with another parquet-reader setting infers for itself") {
    // Spark-written files carry Spark's own schema in their footer, which
    // inference prefers over the reader settings; a plain parquet writer's
    // unannotated binary column is what `binaryAsString` maps.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType("message m { required binary text; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("text", "hello"))
    finally writer.close()
    def textType(): DataType = Tables.load(spark, dir, "documents").schema("text").dataType
    assert(textType() == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try assert(textType() == StringType)
    finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(textType() == BinaryType)
  }
}
