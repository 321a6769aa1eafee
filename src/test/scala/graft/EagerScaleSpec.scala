package graft

import graft.core.Eager.EagerCheckpoint

/** Pins the round-20 size-gated checkpoint helper: below the input-byte
  * gate it must be an exact no-op (same Dataset — zero barrier at
  * fixture scale, the bench-protecting half of the contract); above it
  * the result must be a materialized LogicalRDD (lineage cut — the
  * 100 TB half). The gate reads LEAF stats, so a selective filter on a
  * large input still checkpoints. */
class EagerScaleSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** Drop the block storage of one checkpoint this suite made. */
  private def unpersist(out: org.apache.spark.sql.DataFrame): Unit =
    out.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(false)
      case _ =>
    }

  private def withGate[A](bytes: Option[Long])(body: => A): A = {
    val key = "spark.graft.checkpoint.minInputBytes"
    val prev = spark.conf.getOption(key)
    bytes.foreach(b => spark.conf.set(key, b.toString))
    try body
    finally {
      spark.conf.unset(key)
      prev.foreach(spark.conf.set(key, _))
    }
  }

  test("below the gate: no-op, same Dataset") {
    val df = docs.select("doc_id")
    val out = df.eagerCheckpointAtScale() // default gate 8 GiB >> fixture
    assert(out eq df)
  }

  test("above the gate: checkpointed to a LogicalRDD") {
    val prev = spark.conf.getOption("spark.graft.checkpoint.minInputBytes")
    spark.conf.set("spark.graft.checkpoint.minInputBytes", "1")
    try {
      val df = docs.select("doc_id").filter("doc_id >= 0")
      val out = df.eagerCheckpointAtScale()
      assert(out ne df)
      assert(out.queryExecution.analyzed.getClass.getSimpleName
        == "LogicalRDD")
      assert(out.count() == df.count())
      unpersist(out)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.minInputBytes")
      prev.foreach(spark.conf
        .set("spark.graft.checkpoint.minInputBytes", _))
    }
  }

  test("gate reads leaf input stats, not output estimates") {
    val prev = spark.conf.getOption("spark.graft.checkpoint.minInputBytes")
    // set the gate just above the fixture file size: still a no-op
    val bytes = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$sf/documents.parquet")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    spark.conf.set("spark.graft.checkpoint.minInputBytes",
      (bytes * 100).toString)
    try {
      val df = docs.select("doc_id")
      assert(df.eagerCheckpointAtScale() eq df)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.minInputBytes")
      prev.foreach(spark.conf
        .set("spark.graft.checkpoint.minInputBytes", _))
    }
  }

  test("a leaf without statistics counts as unknown, not as huge") {
    // an RDD-backed leaf reports spark.sql.defaultSizeInBytes
    val sp = spark
    import sp.implicits._
    val df = spark.sparkContext.parallelize(1 to 10).toDF("n")
    withGate(None)(assert(df.eagerCheckpointAtScale() eq df))
  }

  test("a store table's DSv2 leaf gates on its file sizes, with a " +
    "deletion vector as without") {
    val cat = new graft.store.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft_eager").toString)
    val sp = spark
    import sp.implicits._
    cat.append("events_ingest", (1 to 10).map(i =>
      (i.toLong, new java.sql.Timestamp(i * 1000L), i.toLong, "view",
        i.toDouble, s"p$i"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    cat.delete("events_ingest", org.apache.spark.sql.functions.col(
      "ingest_id") === 3L)
    val df = cat.read("events_ingest")
    withGate(None)(assert(df.eagerCheckpointAtScale() eq df))
    withGate(Some(1L)) {
      val out = df.eagerCheckpointAtScale()
      assert(out ne df)
      assert(out.count() == 9L)
      unpersist(out)
    }
  }
}
