package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** A store root whose path needs percent-encoding in a URI (a space and
  * a `%`): scans name their files by percent-encoded URIs, so every
  * mapping from a scanned file back to its manifest entry must decode.
  * Appends, merge-on-read updates/deletes, merge, current and
  * time-travel reads, the SQL front door and fsck all run on one such
  * root, through both filesystem bindings. */
class StoreRootPathSpec extends SparkSuite {

  private def ev(ids: Seq[Int], value: Int => Double): DataFrame = {
    val sp = spark
    import sp.implicits._
    ids.map(i => (i.toLong, new java.sql.Timestamp(i * 1000L), i.toLong,
      "view", value(i), s"p$i"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private def valueOf(df: DataFrame, id: Long): Seq[Double] =
    df.filter(col("ingest_id") === id).select("value").collect()
      .map(_.getDouble(0)).toSeq

  Seq("local", "hadoop").foreach { binding =>
    test(s"a root path with a space and a '%' serves reads, writes, SQL " +
      s"and a clean fsck ($binding IO)") {
      val root = Files.createTempDirectory("graft store 100% ").toString
      assert(root.contains(" ") && root.contains("%"))
      val io: StoreIO =
        if (binding == "local") new LocalStoreIO else StoreIO.hadoop(spark)
      val cat = new Catalog(spark, root, io)
      cat.append("events_ingest", ev(1 to 10, _.toDouble),
        orderBy = Seq("event_id"))
      cat.append("events_ingest", ev(11 to 20, _.toDouble),
        orderBy = Seq("event_id"))
      val v = cat.version
      cat.update("events_ingest", col("ingest_id") === 5L,
        Map("value" -> lit(500.5)))
      val (matched, inserted) = cat.merge("events_ingest",
        ev(Seq(7, 21), _ * 100.0 + 0.5), "event_id")
      assert((matched, inserted) == ((1L, 1L)))
      assert(cat.delete("events_ingest", col("ingest_id") === 12L) == 1L)

      val now = cat.read("events_ingest")
      assert(now.count() == 20)
      assert(valueOf(now, 5L) == Seq(500.5))
      assert(valueOf(now, 7L) == Seq(700.5))
      assert(valueOf(now, 12L).isEmpty)
      assert(valueOf(now, 21L) == Seq(2100.5))

      val then = cat.readAt("events_ingest", v)
      assert(then.count() == 20)
      assert(valueOf(then, 5L) == Seq(5.0))

      spark.conf.set("spark.sql.catalog.groot",
        classOf[graft.store.sql.GraftTableCatalog].getName)
      spark.conf.set("spark.sql.catalog.groot.root", root)
      assert(spark.sql("SELECT value FROM groot.events_ingest " +
        "WHERE ingest_id = 5").collect().map(_.getDouble(0)).toSeq ==
        Seq(500.5))
      assert(spark.sql("SELECT COUNT(*) FROM groot.events_ingest")
        .collect()(0).getLong(0) == 20L)

      val bad = cat.fsck("events_ingest").filter(!col("ok")).collect()
      assert(bad.isEmpty, bad.mkString("; "))
    }
  }
}
