package graft.sinks

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** GENERATED-COLUMN partition-filter derivation (VERDICT r18 #2 — the
  * Delta `OptimizeGeneratedColumn` recipe): when a table is
  * partitioned by `dt DATE GENERATED ALWAYS AS (to_date(ts))`, users
  * filter on the TIMESTAMP they have (`WHERE ts >= X`), not the
  * synthesized date — and without derivation that filter proves
  * nothing about the partition column, so every partition scans.
  * This module derives the IMPLIED predicate on the generated column
  * from a filter on its source column, for the monotone
  * (non-decreasing) generation family:
  *
  *  - `to_date(ts)` / `CAST(ts AS DATE)` — calendar-day floor
  *  - `date_trunc(unit, ts)` — unit floor (year..second)
  *  - `trunc(d, fmt)` — date floor (year/quarter/month/week)
  *  - `year(x)` — calendar-year floor
  *
  * For a non-decreasing `f` with `gen = f(src)`:
  * `src >= L ⟹ gen >= f(L)`, `src <= U ⟹ gen <= f(U)`, and equality
  * derives both bounds — each a sound conjunct to AND into the
  * file-pruning walk (never into the row filter; the original
  * predicate still applies to rows). Everything unrecognized derives
  * nothing — the walk stays fail-open.
  *
  * Derived literals are rendered to match the STATS representation of
  * the generated column: partition columns carry their Hive dir
  * STRINGS as min==max bounds, so a date derives its ISO rendering
  * (lexicographic == chronological) and a timestamp its
  * `yyyy-MM-dd HH:mm:ss` session-zone rendering; data columns carry
  * typed footer bounds, so the Catalyst-internal value rides as-is.
  * Calendar mapping runs in the session zone — the same zone the
  * write evaluated the generation expression under (the documented
  * single-zone contract partition dir rendering already has).
  */
object GeneratedPruning {

  /** A recognized monotone generation shape over one source column. */
  private sealed trait Shape { def source: String }
  private final case class ToDate(source: String) extends Shape
  private final case class DateTrunc(source: String, unit: String)
      extends Shape
  private final case class TruncDate(source: String, fmt: String)
      extends Shape
  private final case class YearOf(source: String) extends Shape
  private final case class IntDiv(source: String, k: Long) extends Shape
  /** month(x) / day(x) / hour(x) — PERIODIC extractions (VERDICT r19
    * #6): not monotone, so a single bound proves nothing; a point
    * value maps exactly (eq / IN derivation), and a BOUNDED source
    * range implies a bounded OR-set of extraction values (the Delta
    * bounded-OR-set recipe), derived in [[derive]]'s range pass.
    */
  private final case class Extract(source: String, unit: String)
      extends Shape

  /** Monotone shapes derive from one-sided bounds; periodic ones
    * only from points (eq/IN) or two-sided ranges.
    */
  private def monotone(s: Shape): Boolean = !s.isInstanceOf[Extract]

  private def fn(e: Expression): Option[(String, Seq[Expression])] =
    e match {
      case f: UnresolvedFunction if f.nameParts.lengthCompare(1) == 0 &&
          !f.isDistinct =>
        Some(f.nameParts.head.toLowerCase(java.util.Locale.ROOT) ->
          f.arguments)
      case _ => None
    }

  private def attr(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.lengthCompare(1) == 0 =>
      Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def strLit(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) =>
      Some(s.toString.toLowerCase(java.util.Locale.ROOT))
    case _ => None
  }

  /** Parse a generation SQL into a recognized shape (None = anything
    * else — no derivation, fail open).
    */
  private def shapeOf(sql: String): Option[Shape] = {
    val parsed =
      try org.apache.spark.sql.SparkSession.active.sessionState
        .sqlParser.parseExpression(sql)
      catch { case scala.util.control.NonFatal(_) => return None }
    def intLit(e: Expression): Option[Long] = e match {
      case Literal(i: Int, IntegerType) => Some(i.toLong)
      case Literal(l: Long, LongType) => Some(l)
      case _ => None
    }
    parsed match {
      case c: Cast if c.dataType == DateType =>
        attr(c.child).map(ToDate)
      // `ts DIV k` (k > 0) — truncating division is non-decreasing
      // for a positive divisor, and Spark's div matches Java's `/`
      case d: IntegralDivide =>
        for (n <- attr(d.left); k <- intLit(d.right) if k > 0)
          yield IntDiv(n, k)
      case e => fn(e) match {
        case Some(("to_date" | "date", Seq(a))) => attr(a).map(ToDate)
        case Some(("date_trunc", Seq(u, a))) =>
          for (n <- attr(a); unit <- strLit(u)
               if DateTruncUnits(unit)) yield DateTrunc(n, unit)
        case Some(("trunc", Seq(a, f))) =>
          for (n <- attr(a); fmt <- strLit(f)
               if TruncFmts(fmt)) yield TruncDate(n, fmt)
        case Some(("year", Seq(a))) => attr(a).map(YearOf)
        case Some(("month", Seq(a))) => attr(a).map(Extract(_, "month"))
        case Some(("day" | "dayofmonth", Seq(a))) =>
          attr(a).map(Extract(_, "day"))
        case Some(("hour", Seq(a))) => attr(a).map(Extract(_, "hour"))
        case Some(("div", Seq(a, b))) =>
          for (n <- attr(a); k <- intLit(b) if k > 0) yield IntDiv(n, k)
        case _ => None
      }
    }
  }

  private val DateTruncUnits = Set("year", "yyyy", "yy", "quarter",
    "month", "mon", "mm", "week", "day", "dd", "hour", "minute", "second")
  private val TruncFmts = Set("year", "yyyy", "yy", "quarter",
    "month", "mon", "mm", "week")

  private def zoneOf(spark: org.apache.spark.sql.SparkSession)
      : java.time.ZoneId =
    java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  private def localDateTime(micros: Long, zone: java.time.ZoneId)
      : java.time.LocalDateTime = {
    val secs = Math.floorDiv(micros, 1000000L)
    val nanos = Math.floorMod(micros, 1000000L) * 1000L
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(secs, nanos), zone)
  }

  private def microsOf(ldt: java.time.LocalDateTime,
      zone: java.time.ZoneId): Long = {
    val inst = ldt.atZone(zone).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** The source value as a LocalDate(Time), per the source column's
    * recorded type: TIMESTAMP literals are Catalyst micros, DATE
    * literals epoch days. None = a literal shape we cannot map.
    */
  private def srcLocal(v: Any, srcType: DataType, zone: java.time.ZoneId)
      : Option[java.time.LocalDateTime] = (srcType, v) match {
    case (TimestampType, l: Long) => Some(localDateTime(l, zone))
    case (DateType, d: Int) =>
      Some(java.time.LocalDate.ofEpochDay(d.toLong).atStartOfDay())
    case (DateType, d: Long) =>
      Some(java.time.LocalDate.ofEpochDay(d).atStartOfDay())
    case _ => None
  }

  private def truncLocalDate(d: java.time.LocalDate, fmt: String)
      : java.time.LocalDate = fmt match {
    case "year" | "yyyy" | "yy" => d.withDayOfYear(1)
    case "quarter" =>
      d.withMonth(((d.getMonthValue - 1) / 3) * 3 + 1).withDayOfMonth(1)
    case "month" | "mon" | "mm" => d.withDayOfMonth(1)
    case "week" => d.`with`(java.time.DayOfWeek.MONDAY) match {
      // with(MONDAY) moves within the ISO week — already the floor
      case m if !m.isAfter(d) => m
      case m => m.minusWeeks(1)
    }
    case _ => d
  }

  private def truncLdt(t: java.time.LocalDateTime, unit: String)
      : java.time.LocalDateTime = unit match {
    case "year" | "yyyy" | "yy" =>
      t.toLocalDate.withDayOfYear(1).atStartOfDay()
    case "quarter" => truncLocalDate(t.toLocalDate, "quarter").atStartOfDay()
    case "month" | "mon" | "mm" =>
      t.toLocalDate.withDayOfMonth(1).atStartOfDay()
    case "week" => truncLocalDate(t.toLocalDate, "week").atStartOfDay()
    case "day" | "dd" => t.toLocalDate.atStartOfDay()
    case "hour" => t.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
    case "minute" => t.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
    case "second" => t.truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    case _ => t
  }

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Map a source literal through the shape and render it for the
    * generated column's stats representation. `asPartition` = the
    * generated column's bounds are partition-dir strings (render the
    * value the way Spark renders the dir); otherwise typed footer
    * bounds (emit the Catalyst-internal value).
    */
  private def mapLit(shape: Shape, v: Any, srcType: DataType,
      genType: DataType, asPartition: Boolean, zone: java.time.ZoneId)
      : Option[Literal] = {
    shape match {
      // integral shape: no calendar involved, and the emitted Long
      // compares numerically against typed footer bounds AND numeric
      // partition-dir strings alike
      case IntDiv(_, k) => return (v match {
        case l: Long => Some(l / k)
        case i: Int => Some(i.toLong / k)
        case s: Short => Some(s.toLong / k)
        case b: Byte => Some(b.toLong / k)
        case _ => None
      }).map(q => Literal(q, LongType))
      case _ => ()
    }
    val local = srcLocal(v, srcType, zone).getOrElse(return None)
    (shape, genType) match {
      case (_: ToDate, DateType) =>
        val d = local.toLocalDate
        if (asPartition) Some(Literal(UTF8String.fromString(d.toString),
          StringType))
        else Some(Literal(d.toEpochDay.toInt, DateType))
      case (DateTrunc(_, unit), TimestampType) =>
        val t = truncLdt(local, unit)
        if (asPartition) Some(Literal(
          UTF8String.fromString(t.format(TsFmt)), StringType))
        else Some(Literal(microsOf(t, zone), TimestampType))
      case (TruncDate(_, fmt), DateType) =>
        val d = truncLocalDate(local.toLocalDate, fmt)
        if (asPartition) Some(Literal(UTF8String.fromString(d.toString),
          StringType))
        else Some(Literal(d.toEpochDay.toInt, DateType))
      case (_: YearOf, IntegerType) =>
        Some(Literal(local.getYear, IntegerType))
      // point mapping is exact for periodic extractions too — sound
      // for eq/IN derivation (the ge/le pass filters these out)
      case (Extract(_, unit), IntegerType) =>
        Some(Literal(extractUnit(local, unit), IntegerType))
      case _ => None
    }
  }

  private def extractUnit(t: java.time.LocalDateTime, unit: String): Int =
    unit match {
      case "month" => t.getMonthValue
      case "day" => t.getDayOfMonth
      case _ => t.getHour
    }

  /** The distinct extraction values a bounded [lo, hi] source range
    * can produce, by stepping the range at the unit granularity. None
    * when the range spans a full period (every value possible — no
    * pruning information) or is contradictory (fail open; emptiness
    * is the row filter's job, not the deriver's).
    */
  private def extractValues(lo: java.time.LocalDateTime,
      hi: java.time.LocalDateTime, unit: String): Option[Seq[Int]] = {
    if (lo.isAfter(hi)) return None
    val cap = unit match {
      case "month" => 12; case "day" => 31; case _ => 24 }
    val vals = scala.collection.mutable.LinkedHashSet.empty[Int]
    var cur = unit match {
      case "month" => lo.toLocalDate.withDayOfMonth(1).atStartOfDay()
      case "day" => lo.toLocalDate.atStartOfDay()
      case _ => lo.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
    }
    var steps = 0
    while (!cur.isAfter(hi)) {
      if (steps >= cap) return None // full period covered
      vals += extractUnit(cur, unit)
      cur = unit match {
        case "month" => cur.plusMonths(1)
        case "day" => cur.plusDays(1)
        case _ => cur.plusHours(1)
      }
      steps += 1
    }
    Some(vals.toSeq)
  }

  private def constValue(e: Expression): Option[Any] = e match {
    case Literal(null, _) => None
    case Literal(v, _) => Some(v)
    case f if f.resolved && f.foldable && f.deterministic =>
      try Option(f.eval(null))
      catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  /** Derive the implied generated-column conjuncts of a NORMALIZED
    * prune predicate ([[DataSkipping.normalize]]d — typed comparisons
    * in negation-normal form). Walks only the top-level AND spine:
    * anything under an OR/NOT derives nothing (sound — derivation
    * only ever ADDS conjuncts, and a conjunct implied by one OR arm
    * is not implied by the disjunction).
    */
  def derive(spark: org.apache.spark.sql.SparkSession,
      recorded: StructType, partCols: Seq[String],
      pred: Expression): Seq[Expression] = {
    val gens: Seq[(String, String, DataType)] = recorded.fields.toSeq
      .flatMap(f => org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(g => (f.name, g, f.dataType)))
    if (gens.isEmpty) return Seq.empty
    val srcTypes: Map[String, DataType] = recorded.fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    val shapes: Seq[(String, Shape, DataType)] = gens.flatMap {
      case (name, sql, dt) => shapeOf(sql).map(s => (name, s, dt))
    }
    if (shapes.isEmpty) return Seq.empty
    val parts = partCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val zone = zoneOf(spark)

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // (source column, op, literal) of a comparison leaf; op is one of
    // ge/le/eq after orientation
    def leafOf(e: Expression): Option[(String, String, Any)] = e match {
      case GreaterThanOrEqual(a, b) => orient(a, b, "ge")
      case GreaterThan(a, b) => orient(a, b, "gt")
      case LessThanOrEqual(a, b) => orient(a, b, "le")
      case LessThan(a, b) => orient(a, b, "lt")
      case EqualTo(a, b) => orient(a, b, "eq")
      case EqualNullSafe(a, b) => orient(a, b, "eq")
      case _ => None
    }
    def flipOp(op: String): String = op match {
      case "ge" => "le"; case "gt" => "lt"
      case "le" => "ge"; case "lt" => "gt"; case o => o
    }
    def orient(a: Expression, b: Expression, op: String)
        : Option[(String, String, Any)] =
      (attrName(a), constValue(b)) match {
        case (Some(n), Some(v)) => Some((n, op, v))
        case _ => (attrName(b), constValue(a)) match {
          case (Some(n), Some(v)) => Some((n, flipOp(op), v))
          case _ => None
        }
      }
    // strict bounds tighten before mapping: source values are
    // integral-encoded (micros / days / longs), so `src < U ⟺
    // src <= U-1` — at a unit boundary (`ts < midnight`) this derives
    // the PREVIOUS day instead of weakly including the boundary day
    def bump(v: Any, d: Long): Option[Any] = v match {
      case l: Long => try Some(Math.addExact(l, d))
        catch { case _: ArithmeticException => None }
      case i: Int => Some(i + d.toInt)
      case s: Short => Some(s.toInt + d.toInt)
      case b: Byte => Some(b.toInt + d.toInt)
      case _ => None
    }

    // IN lists derive one OR-of-bands conjunct (each value maps to
    // gen ∈ [f(v), f(v)]); bounded — a huge list isn't worth the walk
    def inOf(e: Expression): Option[(String, Seq[Any])] = e match {
      case In(a, list) if list.lengthCompare(32) <= 0 =>
        val vs = list.map(constValue)
        if (vs.forall(_.isDefined))
          attrName(a).map(n => (n, vs.flatten))
        else None
      case InSet(a, set) if set.size <= 32 =>
        attrName(a).map(n => (n, set.toSeq.filter(_ != null)))
      case _ => None
    }
    val inDerived: Seq[Expression] = conjuncts(pred).flatMap(inOf)
      .flatMap { case (src, values) =>
        val srcL = src.toLowerCase(java.util.Locale.ROOT)
        shapes.filter(
          _._2.source.toLowerCase(java.util.Locale.ROOT) == srcL)
          .flatMap { case (gen, shape, genType) =>
            val srcType = srcTypes.getOrElse(srcL, NullType)
            val asPart = parts(gen.toLowerCase(java.util.Locale.ROOT))
            val bands = values.map(
              mapLit(shape, _, srcType, genType, asPart, zone))
            // every value must map, else the disjunction proves nothing
            if (bands.isEmpty || bands.exists(_.isEmpty)) None
            else {
              val g = UnresolvedAttribute(Seq(gen))
              Some(bands.flatten.map(lit =>
                And(GreaterThanOrEqual(g, lit),
                  LessThanOrEqual(g, lit)): Expression)
                .reduce(Or(_, _)))
            }
          }
      }
    val leaves = conjuncts(pred).flatMap(leafOf)
    // periodic-extraction range pass: a TWO-SIDED bound on the source
    // (after strict-bound tightening) implies a bounded OR-set on the
    // generated extraction column
    val rangeDerived: Seq[Expression] = {
      val bySrc: Map[String, Seq[(String, Any)]] = leaves
        .flatMap { case (src, op0, v0) =>
          (op0 match {
            case "gt" => bump(v0, 1L).map("ge" -> _)
            case "lt" => bump(v0, -1L).map("le" -> _)
            case o => Some(o -> v0)
          }).map(src.toLowerCase(java.util.Locale.ROOT) -> _)
        }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      shapes.collect {
        case (gen, Extract(srcName, unit), IntegerType) =>
          val srcL = srcName.toLowerCase(java.util.Locale.ROOT)
          val srcType = srcTypes.getOrElse(srcL, NullType)
          val bounds = bySrc.getOrElse(srcL, Seq.empty)
          def locals(ops: Set[String]) = bounds.collect {
            case (op, v) if ops(op) => srcLocal(v, srcType, zone)
          }.flatten
          val los = locals(Set("ge", "eq"))
          val his = locals(Set("le", "eq"))
          for {
            lo <- if (los.isEmpty) None else Some(los.max)
            hi <- if (his.isEmpty) None else Some(his.min)
            vals <- extractValues(lo, hi, unit) if vals.nonEmpty
          } yield {
            val g = UnresolvedAttribute(Seq(gen))
            vals.map(v =>
              And(GreaterThanOrEqual(g, Literal(v, IntegerType)),
                LessThanOrEqual(g, Literal(v, IntegerType))): Expression)
              .reduce(Or(_, _))
          }
      }.flatten
    }
    inDerived ++ rangeDerived ++ leaves.flatMap { case (src, op0, v0) =>
      val adjusted: Option[(String, Any)] = op0 match {
        case "gt" => bump(v0, 1L).map("ge" -> _)
        case "lt" => bump(v0, -1L).map("le" -> _)
        case o => Some(o -> v0)
      }
      adjusted.toSeq.flatMap { case (op, v) =>
        val srcL = src.toLowerCase(java.util.Locale.ROOT)
        shapes.filter(
          _._2.source.toLowerCase(java.util.Locale.ROOT) == srcL)
          // a one-sided bound proves nothing about a periodic
          // extraction — only a point (eq) maps through it soundly
          .filter { case (_, shape, _) => monotone(shape) || op == "eq" }
          .flatMap { case (gen, shape, genType) =>
            val srcType = srcTypes.getOrElse(srcL, NullType)
            val asPart = parts(gen.toLowerCase(java.util.Locale.ROOT))
            mapLit(shape, v, srcType, genType, asPart, zone).toSeq
              .flatMap { lit =>
                val g = UnresolvedAttribute(Seq(gen))
                op match {
                  case "ge" => Seq(GreaterThanOrEqual(g, lit))
                  case "le" => Seq(LessThanOrEqual(g, lit))
                  // eq emits BOTH bounds instead of string equality —
                  // range checks are robust to dir-rendering variants
                  case _ => Seq(GreaterThanOrEqual(g, lit),
                    LessThanOrEqual(g, lit))
                }
              }
          }
      }
    }
  }
}
