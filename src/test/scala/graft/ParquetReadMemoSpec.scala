package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.sources.ResultSink
import graft.Sweep.{BarrierCfg, SweepSpec}

/** Pins the contract of the one parquet reader (ResultSink.read): Spark
  * infers a table's schema once, later reads take it from the memo and
  * launch no job, every read is still a fresh relation, and a changed
  * table or parquet conf re-infers.
  */
class ParquetReadMemoSpec extends GraftSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_read").toString + "/t"

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val (out, jobs) = jobDescriptionsDuring(body)
    (out, jobs.size)
  }

  test("a second read of a table launches no Spark job") {
    val p = tmp()
    spark.range(50).selectExpr("id AS k", "id * 2.5 AS v").write.parquet(p)
    val (first, inferJobs) = jobsDuring(ResultSink.read(spark, p))
    assert(inferJobs >= 1, "the first read should infer through Spark")
    val (second, jobs) = jobsDuring(ResultSink.read(spark, p))
    assert(jobs == 0, s"the second read launched $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == 50)
  }

  test("two reads of one table are two relations: a self-join resolves") {
    val p = tmp()
    spark.range(10).selectExpr("id AS k").write.parquet(p)
    val a = ResultSink.read(spark, p)
    val b = ResultSink.read(spark, p)
    assert(a.join(b, a("k") === b("k") + 1).count() == 9)
  }

  test("rewriting the path with another schema re-infers it") {
    val p = tmp()
    spark.range(5).selectExpr("id AS k").write.parquet(p)
    assert(ResultSink.read(spark, p).schema.fieldNames.toSeq == Seq("k"))
    spark.range(5).selectExpr("CAST(id AS STRING) AS k", "id * 1.5 AS w")
      .write.mode("overwrite").parquet(p)
    val back = ResultSink.read(spark, p)
    assert(back.schema == spark.read.parquet(p).schema)
    assert(back.schema("k").dataType == StringType && back.schema.fieldNames.toSeq == Seq("k", "w"))
    assert(back.filter("k = '3'").count() == 1)
  }

  test("changing spark.sql.parquet.binaryAsString re-infers") {
    // written without Spark's schema footer (which would pin BinaryType):
    // an unannotated BINARY column, as non-Spark writers emit strings
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val p = tmp()
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"))
      .withType(schema).build()
    try (0 until 3).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup().append("b", s"v$i")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    assert(ResultSink.read(spark, p).schema("b").dataType == BinaryType)
    spark.conf.set(key, "true")
    try assert(ResultSink.read(spark, p).schema("b").dataType == StringType)
    finally spark.conf.unset(key)
    assert(ResultSink.read(spark, p).schema("b").dataType == BinaryType)
  }

  test("the memoized schema equals Spark's inference: lake file, staged " +
    "directory, partitioned sweep results") {
    val staged = tmp()
    Tables.documents(spark, sf).write.parquet(staged)
    val sweep = Files.createTempDirectory("graft_read_sweep").toString
    Sweep.run(spark, sf, SweepSpec("g1", Seq("2down_ng" -> "(dir_1 = 0 AND dir_0 = 0)"),
      Seq(BarrierCfg("sym", 0.0075, 0.0075, 20))), sweep)
    val results = s"$sweep/results"
    for (p <- Seq(s"$sf/events.parquet", staged, results)) {
      ResultSink.read(spark, p)
      val (memo, jobs) = jobsDuring(ResultSink.read(spark, p).schema)
      assert(jobs == 0, s"$p: the memoized read launched $jobs jobs")
      val fresh = spark.read.parquet(p).schema
      assert(memo.map(f => (f.name, f.dataType, f.nullable)) ==
        fresh.map(f => (f.name, f.dataType, f.nullable)), p)
      assert(memo == fresh, p)
    }
    assert(ResultSink.read(spark, results).schema.fieldNames.takeRight(2).toSeq ==
      Seq("generation", "formation"))
  }
}
