package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.service.Portal
import graft.store.Catalog

/** `portal_mixed`: traffic shaped like the reference portal's against a
  * fresh store, through `service.Portal` plus the `GraftTableCatalog` SQL
  * front door. About 60% reads and 40% writes, drawn from the seed. The
  * per-operation weights and the store sizes are assumptions: no traffic
  * or data sizes of the reference portal are recorded.
  *
  * Set-up seeds a store with one bulk append per table; it runs
  * [[setupRepeats]] times on separate roots (the set-up median). The
  * first root takes the cold pass, the last one the warm pass and the
  * timed phase. */
final class PortalWorkload(spark0: SparkSession, a0: Main.Args, res0: Result)
    extends Workload(spark0, a0, res0) {
  import spark.implicits._

  val Users = 300
  val Events = 40
  val Registrations = 600
  val Cards = 150

  private def pw(i: Long) = s"pw-${a.seed}-$i"
  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Client-side model of what the store should hold. */
  final class State(val root: String, val sqlCat: String) {
    val portal = new Portal(new Catalog(spark, root))
    val users = mutable.ArrayBuffer.empty[(Long, String, String)] // id, email, password
    val events = mutable.ArrayBuffer.empty[(Long, Boolean)] // id, free
    val cardUsers = mutable.ArrayBuffer.empty[Long]
    val pending = mutable.ArrayBuffer.empty[(Long, Long, Long)] // reg, user, event
    val deleted = mutable.Set.empty[Long] // soft-deleted event ids
    val phoneChanged = mutable.Set.empty[Long] // user ids
    val freePaid = mutable.ArrayBuffer.empty[Long] // registration ids
    var userBytes = 0L
    var wrongAuthAccepted = 0
    var nextUser = 0L
  }

  private val states = mutable.ArrayBuffer.empty[State]
  def setupRepeats: Int = 3

  private def rowBytes(vals: Any*): Long =
    vals.map(v => if (v == null) 0L else v.toString.getBytes("UTF-8").length.toLong).sum

  def setupOnce(i: Int): Unit = {
    val root = Paths.get(a.work, s"store$i").toString
    val st = new State(root, s"pb$i")
    val cat = new Catalog(spark, root)
    val r = new scala.util.Random(a.seed * 31 + i)
    val now = new Timestamp(1_760_000_000_000L)

    val users = (0 until Users).map { u =>
      (s"First$u", s"Last$u", f"${5550000000L + u}%010d", s"user$u@ex.com",
        sha256Hex(pw(u)), if (u % 25 == 0) "organizer" else "user", now)
    }
    st.userBytes += users.map(u => rowBytes(u.productIterator.toSeq: _*)).sum
    cat.append("users", users.toDF("first_name", "last_name", "phone",
      "email", "password_hash", "user_role", "created_at"),
      orderBy = Seq("email"))
    val events = (0 until Events).map { e =>
      val price = if (e % 4 == 0) BigDecimal(0) else BigDecimal(5 + r.nextInt(95))
      (s"Event $e", s"About event $e", new Timestamp(now.getTime + e * 86400000L),
        36000 + e * 60, s"Hall ${e % 7}", Seq("Music", "Expo", "Talk")(e % 3),
        0L, price, 100 + e, true, now)
    }
    st.userBytes += events.map(e => rowBytes(e.productIterator.toSeq: _*)).sum
    cat.append("events", events.toDF("event_name", "event_description",
      "event_date", "event_time_sec", "location", "event_type",
      "organizer_id", "price", "capacity", "is_active", "created_at")
      .withColumn("price", $"price".cast("decimal(8,2)")),
      orderBy = Seq("event_time_sec"))
    val uIds = cat.read("users").select("user_id", "email").as[(Long, String)]
      .collect().sortBy(_._1)
    uIds.foreach { case (id, email) =>
      st.users += ((id, email, pw(email.stripPrefix("user").takeWhile(_.isDigit).toLong)))
    }
    val eRows = cat.read("events").select($"event_id", $"price".cast("double"))
      .as[(Long, Double)].collect().sortBy(_._1)
    eRows.foreach { case (id, price) => st.events += ((id, price == 0.0)) }
    val regs = (0 until Registrations).map { k =>
      val u = st.users(r.nextInt(st.users.size))._1
      val (e, free) = st.events(r.nextInt(st.events.size))
      (u, e, if (free || k % 3 != 0) "Success" else "Pending",
        new Timestamp(now.getTime + k))
    }
    st.userBytes += regs.map(x => rowBytes(x.productIterator.toSeq: _*)).sum
    cat.append("registrations", regs.toDF("user_id", "event_id",
      "payment_status", "created_at"), orderBy = Seq("created_at"))
    val regRows = cat.read("registrations")
      .select("registration_id", "user_id", "event_id", "payment_status")
      .as[(Long, Long, Long, String)].collect()
    val price = eRows.toMap
    val pays = regRows.filter(_._4 == "Success").toSeq.sortBy(_._1).map {
      case (reg, u, e, _) =>
        val amt = price(e)
        (u, reg, Option.empty[Long], BigDecimal(amt),
          if (amt == 0.0) "Free" else "OneTime", "Success",
          new Timestamp(now.getTime + reg))
    }
    st.userBytes += pays.map(x => rowBytes(x.productIterator.toSeq: _*)).sum
    cat.append("payments", pays.toDF("user_id", "registration_id", "card_id",
      "amount", "payment_type", "payment_status", "payment_date")
      .withColumn("amount", $"amount".cast("decimal(8,2)")),
      orderBy = Seq("registration_id"))
    regRows.filter(_._4 == "Pending").sortBy(_._1).foreach {
      case (reg, u, e, _) => st.pending += ((reg, u, e))
    }
    val cards = (0 until Cards).map { c =>
      val u = st.users(r.nextInt(st.users.size))._1
      (u, s"Holder $c", f"4111${r.nextInt(1000000)}%06d${c}%06d",
        f"${r.nextInt(1000)}%03d", f"${1 + c % 12}%02d/${28 + c % 5}")
    }
    st.userBytes += cards.map(x => rowBytes(x.productIterator.toSeq: _*)).sum
    def enc(c: org.apache.spark.sql.Column) =
      base64(aes_encrypt(c.cast("binary"), lit(Portal.defaultKey)))
    cat.append("saved_cards", cards.toDF("user_id", "card_holder_name",
      "card_number", "cvv", "expiry_date")
      .withColumn("card_number_encrypted", enc($"card_number"))
      .withColumn("cvv_encrypted", enc($"cvv"))
      .drop("card_number", "cvv"), orderBy = Seq("card_holder_name"))
    st.cardUsers ++= cards.map(_._1).distinct
    st.nextUser = Users
    spark.conf.set(s"spark.sql.catalog.${st.sqlCat}",
      classOf[graft.store.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.${st.sqlCat}.root", root)
    states += st
  }

  /** One pass: (count, op) per operation kind, 12 reads and 8 writes.
    * Fixed counts keep every pass the same mix; the seed draws the order
    * and each operation's arguments. No row is point-updated twice: a
    * second merge-on-read update of one row leaves an orphan file that
    * `fsck` reports (an open defect of `store.Catalog`, README.md,
    * "portal_mixed"), and the benchmark's workloads must not fail. */
  private def mix(st: State, r: scala.util.Random): Seq[(Int, () => Main.Op)] = {
    val p = st.portal
    def user() = st.users(r.nextInt(st.users.size))
    def event() = st.events(r.nextInt(st.events.size))
    def svc[T](name: String)(body: => T): T = span("service", name)(body)
    def expect(c: Boolean, msg: => String): Unit =
      if (!c) throw new IllegalStateException(msg)
    Seq(
      3 -> (() => { val (_, email, pass) = user()
        Main.Op("authenticateUser", "read", () => expect(
          svc("authenticateUser")(p.authenticateUser(email, pass)).isDefined,
          s"$email did not authenticate")) }),
      1 -> (() => { val (_, email, pass) = user()
        Main.Op("authenticateUser_wrong", "read", () => {
          if (svc("authenticateUser")(p.authenticateUser(email, pass + "x")).isDefined) {
            st.wrongAuthAccepted += 1
            throw new IllegalStateException(s"wrong password accepted for $email")
          }
        }) }),
      1 -> (() => Main.Op("listEvents", "read", () =>
        expect(svc("listEvents")(p.listEvents().collect()).nonEmpty, "no events"))),
      2 -> (() => { val (e, _) = event()
        Main.Op("getEvent", "read", () =>
          expect(svc("getEvent")(p.getEvent(e)).isDefined, s"event $e missing")) }),
      2 -> (() => { val (u, _, _) = user()
        Main.Op("getUserRegistrations", "read", () =>
          svc("getUserRegistrations")(p.getUserRegistrations(u).collect())) }),
      1 -> (() => { val u = st.cardUsers(r.nextInt(st.cardUsers.size))
        Main.Op("getSavedCards", "read", () => expect(
          svc("getSavedCards")(p.getSavedCards(u).collect()).nonEmpty,
          s"no cards for $u")) }),
      1 -> (() => Main.Op("eventStats", "read", () =>
        expect(svc("eventStats")(p.eventStats().collect()).length == st.events.size,
          "eventStats row count"))),
      1 -> (() => Main.Op("sql_dashboard", "read", () =>
        span("store.sql", "sql_dashboard")(spark.sql(
          s"""SELECT e.event_type, count(*) AS regs
             |FROM ${st.sqlCat}.registrations r
             |JOIN ${st.sqlCat}.events e ON r.event_id = e.event_id
             |WHERE e.is_active GROUP BY e.event_type
             |ORDER BY regs DESC, e.event_type""".stripMargin).collect()))),
      1 -> (() => { val n = st.nextUser; st.nextUser += 1
        val email = s"user$n@ex.com"
        Main.Op("createUser", "write", () => {
          val id = svc("createUser")(p.createUser(s"First$n", s"Last$n",
            f"${5550000000L + n}%010d", email, pw(n)))
          st.users += ((id, email, pw(n)))
          st.userBytes += rowBytes(s"First$n", s"Last$n",
            f"${5550000000L + n}%010d", email, sha256Hex(pw(n)), "user", "")
        }) }),
      1 -> (() => { val (u, _, _) = user()
        val free = st.events.filter(_._2); val e = free(r.nextInt(free.size))._1
        Main.Op("registerAndPay_free", "write", () => {
          val (reg, pay) = svc("registerAndPay")(p.registerAndPay(u, e))
          expect(pay.isDefined, s"free registration $reg not paid")
          st.freePaid += reg
          st.userBytes += 2 * rowBytes(u, e, "Success", "")
        }) }),
      2 -> (() => { val (u, _, _) = user()
        val paid = st.events.filterNot(_._2); val e = paid(r.nextInt(paid.size))._1
        Main.Op("registerAndPay_paid", "write", () => {
          val (reg, pay) = svc("registerAndPay")(p.registerAndPay(u, e))
          expect(pay.isEmpty, s"paid registration $reg auto-paid")
          st.pending += ((reg, u, e))
          st.userBytes += rowBytes(u, e, "Pending", "")
        }) }),
      1 -> (() => {
        val (reg, u, _) = st.pending.remove(r.nextInt(st.pending.size))
        Main.Op("recordPayment", "write", () => {
          svc("recordPayment")(p.recordPayment(u, reg, None, BigDecimal(25),
            "OneTime", "Success"))
          st.userBytes += rowBytes(u, reg, "25.00", "OneTime", "Success", "")
        }) }),
      1 -> (() => { val (u, _, _) = user()
        val num = f"4111${r.nextInt(1000000)}%06d${r.nextInt(1000000)}%06d"
        Main.Op("addSavedCard", "write", () => {
          svc("addSavedCard")(p.addSavedCard(u, s"Holder $u", num, "123", "12/29"))
          st.cardUsers += u
          st.userBytes += rowBytes(u, s"Holder $u", num, "123", "12/29")
        }) }),
      // the admin deletes an event the listing still shows
      1 -> (() => { val active = st.events.map(_._1).filterNot(st.deleted)
        val e = active(r.nextInt(active.size)); st.deleted += e
        Main.Op("deleteEvent", "write", () => svc("deleteEvent")(p.deleteEvent(e))) }),
      // a user whose phone this run has not changed yet
      1 -> (() => { val fresh = st.users.map(_._1).filterNot(st.phoneChanged)
        val u = fresh(r.nextInt(fresh.size)); st.phoneChanged += u
        val phone = f"${5560000000L + r.nextInt(1000000)}%010d"
        Main.Op("sql_update", "write", () =>
          span("store.sql", "sql_update")(spark.sql(
            s"UPDATE ${st.sqlCat}.users SET phone = '$phone' WHERE user_id = $u")
            .collect())) }))
  }

  private def passOps(st: State, r: scala.util.Random): IndexedSeq[Main.Op] =
    r.shuffle(mix(st, r).flatMap { case (n, f) => Seq.fill(n)(f) })
      .map(_()).toIndexedSeq

  /** One cold pass on the first seeded store; the warm pass then runs
    * on the timed store. */
  def warmup(): Unit = passOps(states.head, new scala.util.Random(a.seed + 7))
    .foreach(op => untimed("cold", op.name)(op.run()))

  private lazy val live = states.last
  private lazy val opRnd = new scala.util.Random(a.seed)
  private var logAt0: (Long, Long, Long) = (0L, 0L, 0L)

  override def beforePhase(): Unit = logAt0 = logStats(live.root)

  def pass(i: Int): IndexedSeq[Main.Op] = passOps(live, opRnd)

  /** (commits, checkpoints, log bytes) of the store's commit log. */
  private def logStats(root: String): (Long, Long, Long) = {
    val dir = Paths.get(root, "_log")
    if (!Files.isDirectory(dir)) return (0L, 0L, 0L)
    val fs = Files.list(dir).iterator().asScala.toSeq
    val deltas = fs.filter(f => f.getFileName.toString.matches("v\\d+\\.json"))
    val ckpts = fs.filter(f => isCheckpoint(f.getFileName.toString))
    (deltas.size.toLong, ckpts.size.toLong, deltas.map(Files.size).sum)
  }

  private def isCheckpoint(n: String) = n.matches("v\\d+\\.checkpoint\\.(json|parquet)")

  private def dirBytes(root: String): Long = {
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  private val Tables = Seq("users", "events", "registrations", "payments",
    "saved_cards")

  /** The store invariants, on both stores that served operations: the
    * first one (cold pass) and the timed one. */
  override def verify(): Unit = {
    invariants(states.head, "cold")
    val st = live
    // live files of the current snapshot and their bytes
    val liveFiles = invariants(st, "timed").map { r =>
      val f = Paths.get(r.getAs[String]("file"))
      if (f.isAbsolute) f else Paths.get(st.root).resolve(f)
    }
    val liveBytes = liveFiles.filter(Files.exists(_)).map(Files.size).sum
    val (c1, k1, b1) = logStats(st.root)
    val (c0, k0, _) = logAt0
    val writes = res.samples.count(_.kind == "write")
    // the latest checkpoint plus the tail deltas replayed after it
    val logDir = Paths.get(st.root, "_log")
    def version(n: String) = n.stripPrefix("v").takeWhile(_.isDigit).toLong
    val logFiles = Files.list(logDir).iterator().asScala.toSeq
    val lastCkpt = logFiles.map(_.getFileName.toString).filter(isCheckpoint)
      .map(version).maxOption.getOrElse(0L)
    val replayBytes = logFiles.filter { f =>
      val n = f.getFileName.toString
      (isCheckpoint(n) && version(n) == lastCkpt) ||
        (n.matches("v\\d+\\.json") && version(n) > lastCkpt)
    }.map(Files.size).sum
    res.num("store.commits", (c1 - c0).toDouble)
    res.num("store.commits_per_write",
      if (writes == 0) 0.0 else (c1 - c0).toDouble / writes)
    res.num("store.log_bytes_per_commit", if (c1 == 0) 0.0 else b1.toDouble / c1)
    res.num("store.checkpoints_written", (k1 - k0).toDouble)
    res.num("store.live_files", liveFiles.size.toDouble)
    res.num("store.write_amp", dirBytes(st.root).toDouble / st.userBytes)
    res.num("store_bytes_per_user_byte",
      (liveBytes + replayBytes).toDouble / st.userBytes)
    res.num("store.user_bytes", st.userBytes.toDouble)
  }

  /** Checks the invariants of one store; returns its `fsck` rows of the
    * live files. */
  private def invariants(st: State, store: String): Seq[Row] = {
    val cat = new Catalog(spark, st.root)
    // (1) fsck clean on every table
    val liveRows = Tables.flatMap { t =>
      val (ok, bad) = cat.fsck(t).collect().toSeq.partition(_.getAs[Boolean]("ok"))
      res.check(s"$store.fsck.$t", bad.isEmpty, bad.take(3).mkString("; "))
      ok
    }
    // (2) every free registerAndPay has a Success payment
    val paid = cat.read("payments").filter($"payment_status" === "Success")
      .select("registration_id").as[Long].collect().toSet
    val unpaid = st.freePaid.filterNot(paid)
    res.check(s"$store.free_registrations_paid", unpaid.isEmpty,
      s"${unpaid.size} of ${st.freePaid.size} unpaid")
    // (3) eventStats registration counts sum to the registrations table
    val statSum = st.portal.eventStats().agg(sum("registrations")).as[Long].head()
    val regCount = cat.read("registrations").count()
    res.check(s"$store.event_stats_sum", statSum == regCount,
      s"$statSum vs $regCount")
    // (4) a wrong password never authenticates
    res.check(s"$store.wrong_password_rejected", st.wrongAuthAccepted == 0,
      s"${st.wrongAuthAccepted} accepted")
    liveRows
  }

  override def layerMetrics(tr: Tracer): Unit = {
    val svc = tr.spans.filter(s => s.layer == "service" || s.layer == "store.sql")
    svc.groupBy(_.name).foreach { case (n, ss) =>
      res.num(s"service.${n}_ms", median(ss.map(_.dur).toSeq))
    }
    // Catalyst time of the SQL-door operations
    val sqlIds = tr.spans.filter(_.layer == "store.sql").map(_.id).toSet
    val plans = tr.spans.filter(s => s.layer == "plans" && sqlIds(s.parent))
    val nSql = math.max(1, sqlIds.size)
    res.num("store.sql.plan_ms", plans.map(_.dur).sum / nSql)
  }
}
