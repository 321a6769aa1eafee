package graft

import org.apache.spark.sql.functions._

import graft.store.Catalog

/** Micro-benchmark: store COMMIT cost vs the table's live file count —
  * the round-14 log-structured-manifest claim measured in wall time,
  * not just bytes. The pre-round-14 design serialized EVERY live file
  * of EVERY table into one root manifest inside the commit lock, so
  * commit latency grew with the table; the delta log makes it flat.
  *
  * Protocol: seed `events_ingest` to a small and a large file count
  * (one multi-partition append each — shuffle partitions = target file
  * count), then time `reps` single-row append commits at each size and
  * report the MIN (the Spark-job cost of the 1-row write dominates and
  * is identical at both sizes; any growth is manifest machinery).
  * Also reports the delta-log bytes of the last commit at each size.
  *
  * Usage: StoreCommitBenchDrive [smallFiles] [bigFiles] [reps]
  */
object StoreCommitBenchDrive {
  def main(args: Array[String]): Unit = {
    val small = args.headOption.map(_.toInt).getOrElse(32)
    val big = if (args.length > 1) args(1).toInt else 1024
    val reps = if (args.length > 2) args(2).toInt else 8
    val spark = graft.core.Sessions.local()
    import spark.implicits._

    def row(i: Long) = Seq((i, new java.sql.Timestamp(i), i, "t", 1.0, "p"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    def seed(files: Int): Catalog = {
      val cat = new Catalog(spark,
        java.nio.file.Files.createTempDirectory("graft_commitbench").toString)
      // AQE would coalesce the deliberately-tiny seed partitions back
      // together — the whole point here is a LARGE live file count
      val coalesceKey = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(coalesceKey, "true")
      spark.conf.set(coalesceKey, "false")
      try graft.core.Sessions.withShufflePartitions(spark, files) {
        val bulk = spark.range(0L, files.toLong * 4, 1L, files).select(
          col("id").as("event_id"),
          col("id").cast("timestamp").as("ts"),
          col("id").as("user_id"), lit("t").as("event_type"),
          lit(1.0).as("value"), lit("p").as("props"))
        // NOTE: the input is explicitly sliced to `files` partitions —
        // append's range sort was observed to follow INPUT parallelism
        // rather than spark.sql.shuffle.partitions on this tiny seed,
        // so conf alone did not widen the file count
        cat.append("events_ingest", bulk)
      } finally spark.conf.set(coalesceKey, prev)
      cat
    }

    def time(cat: Catalog, base: Long): (Double, Long) = {
      var best = Double.MaxValue
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        cat.append("events_ingest", row(base + i))
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      val logDir = java.nio.file.Paths.get(cat.root, "_log")
      val ls = java.nio.file.Files.list(logDir)
      val lastDelta = try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.json"))
          .maxBy(_.getFileName.toString.stripPrefix("v")
            .stripSuffix(".json").toLong)
      } finally ls.close()
      (best, java.nio.file.Files.size(lastDelta))
    }

    def userRow(i: Long) =
      Seq((s"u$i", "L", "0", s"u$i@x.c", "h", "user",
        new java.sql.Timestamp(0L)))
        .toDF("first_name", "last_name", "phone", "email",
          "password_hash", "user_role", "created_at")

    /** Round-15 cold-read scenario: a tiny `users` table lives BESIDE
      * the filler-file fact table; pad commits until a parquet
      * checkpoint is the newest log entry, then time a FRESH instance
      * resolving `users`' metadata (maxId — the pure targeted-manifest
      * cost, no data scan). Flat vs filler count = the targeted
      * checkpoint read works; the pre-round-15 JSON cold open parsed
      * every filler entry first. */
    def coldRead(cat: Catalog): Double = {
      cat.append("users", userRow(0L))
      var i = 1L
      while (cat.version % Catalog.CheckpointInterval != 0) {
        cat.append("users", userRow(i)); i += 1
      }
      var best = Double.MaxValue
      (1 to reps).foreach { _ =>
        val fresh = new Catalog(spark, cat.root)
        val t0 = System.nanoTime()
        fresh.maxId("users")
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }

    val catS = seed(small)
    val filesS = catS.liveFiles("events_ingest").size
    val (tS, bS) = time(catS, 1000000L)
    val coldS = coldRead(catS)
    val catB = seed(big)
    val filesB = catB.liveFiles("events_ingest").size
    val (tB, bB) = time(catB, 2000000L)
    val coldB = coldRead(catB)
    println(f"[commitbench] files=$filesS%d append=$tS%.3f s delta=$bS B | " +
      f"files=$filesB%d append=$tB%.3f s delta=$bB B | " +
      f"wall ratio=${tB / tS}%.2fx bytes ratio=${bB.toDouble / bS}%.2fx " +
      f"(flat = the log-structured claim)")
    println(f"[commitbench] cold targeted read (users.maxId, fresh " +
      f"instance): $coldS%.4f s at $filesS%d filler files vs " +
      f"$coldB%.4f s at $filesB%d — ratio=${coldB / coldS}%.2fx " +
      f"(flat = the parquet-checkpoint claim)")
    spark.stop()
  }
}
