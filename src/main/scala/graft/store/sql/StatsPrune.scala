package graft.store.sql

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryComparison, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.Catalog

/** Manifest-stats file pruning, the one pruner every store read uses
  * (the Scala [[Catalog]] readers and the SQL front door both scan
  * through [[GraftScanBuilder]]): turns the planner's catalyst filters
  * into per-column [lo, hi] windows and drops files whose recorded
  * stats provably miss them.
  *
  * Soundness rules (each makes pruning conservative, never lossy):
  *  - only top-level conjuncts constrain (an `OR` arm never prunes);
  *  - strict bounds are widened to inclusive;
  *  - a column with no recorded stat keeps the file;
  *  - string windows compare in UTF-8 binary order against the BOUNDED
  *    `scols` stats (outer bounds — [[Catalog.strStatHi]]), so a
  *    truncated bound can only keep extra files;
  *  - every filter stays in the plan anyway (the scan builder reports
  *    parquet's residuals upward), so pruning can only skip IO, never
  *    change results. */
private[store] object StatsPrune {

  /** Per-column inclusive windows extracted from `filters`:
    * Long-normalized (epoch micros for timestamps) and raw-string. */
  private final case class Windows(
      longs: Map[String, (Long, Long)],
      strs: Map[String, (String, String)])

  private def asLong(v: Any, dt: DataType): Option[Long] = dt match {
    case LongType | IntegerType | ShortType | ByteType | TimestampType =>
      v match {
        case n: java.lang.Number => Some(n.longValue())
        case _ => None
      }
    case _ => None
  }

  private def asStr(v: Any, dt: DataType): Option[String] = dt match {
    case StringType => v match {
      case u: UTF8String => Some(u.toString)
      case s: String => Some(s)
      case _ => None
    }
    case _ => None
  }

  /** (column, lo, hi) of one comparison conjunct in the domain `conv`
    * maps literals into, or None. Literal null bounds are dropped (a
    * null comparison matches nothing; Spark's own Filter node settles
    * it); an `IN` list bounds by its min and max under `le`. */
  private def bound[A](e: Expression, conv: (Any, DataType) => Option[A],
      le: (A, A) => Boolean): Option[(String, Option[A], Option[A])] = {
    def lit(l: Literal): Option[A] =
      Option(l.value).flatMap(conv(_, l.dataType))
    def window(a: Attribute, l: Literal, lower: Boolean, upper: Boolean) =
      lit(l).map(v => (a.name, Option.when(lower)(v), Option.when(upper)(v)))
    // `x > l` and `x >= l` bound x from below, `x < l` and `x <= l` from
    // above; a literal on the left flips the side
    val below: PartialFunction[Expression, Boolean] = {
      case _: GreaterThan | _: GreaterThanOrEqual => true
      case _: LessThan | _: LessThanOrEqual => false
    }
    e match {
      case EqualTo(a: Attribute, l: Literal) => window(a, l, true, true)
      case EqualTo(l: Literal, a: Attribute) => window(a, l, true, true)
      case c: BinaryComparison if below.isDefinedAt(c) =>
        (c.left, c.right) match {
          case (a: Attribute, l: Literal) => window(a, l, below(c), !below(c))
          case (l: Literal, a: Attribute) => window(a, l, !below(c), below(c))
          case _ => None
        }
      case In(a: Attribute, vs) if vs.nonEmpty =>
        val xs = vs.map { case l: Literal => lit(l); case _ => None }
        if (!xs.forall(_.isDefined)) None
        else {
          // min/max in the domain's own order: for strings that is
          // UTF-8 binary order, the order the file stats compare in —
          // String's UTF-16 code-unit order diverges for supplementary
          // characters and would invert the window (unsound pruning)
          val ys = xs.flatten
          Some((a.name, Some(ys.reduce((x, y) => if (le(x, y)) x else y)),
            Some(ys.reduce((x, y) => if (le(x, y)) y else x))))
        }
      case _ => None
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def windows(filters: Seq[Expression]): Windows = {
    val conjuncts = filters.flatMap(splitAnd)
    var longs = Map.empty[String, (Long, Long)]
    var strs = Map.empty[String, (String, String)]
    val longLe = (x: Long, y: Long) => x <= y
    val strLe = (x: String, y: String) => Catalog.utf8Compare(x, y) <= 0
    conjuncts.foreach { c =>
      bound(c, asLong, longLe).foreach { case (col, lo, hi) =>
        val (clo, chi) = longs.getOrElse(col, (Long.MinValue, Long.MaxValue))
        longs += col -> (math.max(clo, lo.getOrElse(Long.MinValue)),
          math.min(chi, hi.getOrElse(Long.MaxValue)))
      }
      bound(c, asStr, strLe).foreach { case (col, lo, hi) =>
        val (clo, chi) = strs.getOrElse(col, (null: String, null: String))
        val nlo = (Option(clo) ++ lo)
          .reduceOption((a, b) => if (Catalog.utf8Compare(a, b) >= 0) a else b)
          .orNull
        val nhi = (Option(chi) ++ hi)
          .reduceOption((a, b) => if (Catalog.utf8Compare(a, b) <= 0) a else b)
          .orNull
        strs += col -> (nlo, nhi)
      }
    }
    Windows(longs, strs)
  }

  /** Per-column null probes extracted from the conjuncts: true = the
    * query demands `IS NULL`, false = `IS NOT NULL`. A column somehow
    * constrained BOTH ways matches nothing, but we just keep the
    * stricter-to-prove side — the residual Filter settles it. */
  private def nullProbes(filters: Seq[Expression]): Map[String, Boolean] =
    filters.flatMap(splitAnd).collect {
      case IsNull(a: Attribute) => a.name -> true
      case IsNotNull(a: Attribute) => a.name -> false
    }.toMap

  /** Files surviving the stats test for `filters`. `priors` maps a
    * RENAMED column's current name to its prior names (newest first):
    * a pre-rename file recorded its stats under the name it was staged
    * with, and those stats describe the SAME logical column, so
    * falling back per file keeps renamed columns prunable across
    * epochs (a file recording neither name is kept — conservative). */
  def prune(files: Vector[Catalog.SqlFile], idCol: String,
      filters: Seq[Expression],
      priors: Map[String, Seq[String]] = Map.empty)
      : Vector[Catalog.SqlFile] = {
    val w = windows(filters)
    val probes = nullProbes(filters)
    if (w.longs.isEmpty && w.strs.isEmpty && probes.isEmpty) return files
    def statOf[A](c: String, get: String => Option[A]): Option[A] =
      get(c).orElse(priors.getOrElse(c, Nil).iterator
        .map(get).collectFirst { case Some(v) => v })
    files.filter { f =>
      val longsOk = w.longs.forall { case (c, (lo, hi)) =>
        val stat =
          if (c == idCol) Some((f.minId, f.maxId))
          else statOf(c, f.cols.get)
        stat.forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
      val strsOk = w.strs.forall { case (c, (lo, hi)) =>
        statOf(c, f.scols.get).forall { case (smn, smx) =>
          (lo == null || Catalog.utf8Compare(smx, lo) >= 0) &&
            (hi == null || Catalog.utf8Compare(smn, hi) <= 0)
        }
      }
      val nullsOk = probes.forall { case (c, isNull) =>
        Catalog.nullProbeKeeps(f.rows, statOf(c, f.nulls.get), isNull)
      }
      longsOk && strsOk && nullsOk
    }
  }
}
