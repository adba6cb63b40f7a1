package graft.lake

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File skipping: decide from partition values + footer min/max
  * whether a file can possibly contain rows matching a predicate.
  * Conservative — returns "keep" whenever it can't prove exclusion,
  * so correctness never depends on it; Spark re-applies the full
  * predicate after the scan. This is the planner-side pruning that
  * makes selective queries touch a fraction of a 100 TB table
  * (reference docs/02-lab-optimizations.md:314-341 partition pruning +
  * :591-599 stats-based skipping).
  */
object Pruning {

  def prune(files: Seq[AddFile], schema: StructType,
            partitionCols: Seq[String], predicate: Column,
            generated: Map[String, String] = Map.empty): Seq[AddFile] = {
    val conjuncts = splitConjuncts(normalize(GraftExpr.expression(predicate)))
    val derived = deriveGenerated(generated, conjuncts)
    val all = conjuncts ++ derived
    files.filter(f => all.forall(c => mayMatch(f, partitionCols, c)))
  }

  /** Columns a predicate could drive FILE SKIPPING by — the conjunct
    * shapes [[mayMatch]] understands (attr-vs-literal comparisons, IN,
    * prefix, null tests), by attribute name. CLUSTER BY AUTO (L120)
    * records these per read: they are exactly the columns whose
    * clustering would turn this predicate into skipped files.
    */
  def prunableColumns(predicate: Column): Set[String] = {
    def side(l: Expression, r: Expression): Option[String] =
      attrName(l).filter(_ => litValue(r).isDefined)
        .orElse(attrName(r).filter(_ => litValue(l).isDefined))
    splitConjuncts(normalize(GraftExpr.expression(predicate))).flatMap {
      case EqualTo(l, r) => side(l, r)
      case LessThan(l, r) => side(l, r)
      case LessThanOrEqual(l, r) => side(l, r)
      case GreaterThan(l, r) => side(l, r)
      case GreaterThanOrEqual(l, r) => side(l, r)
      case In(a, list) if list.forall(_.foldable) => attrName(a)
      case StartsWith(l, r) => side(l, r)
      case IsNull(x) => attrName(x)
      case IsNotNull(x) => attrName(x)
      case _ => None
    }.toSet
  }

  /** Generated-column pruning (Delta parity): when a partition column
    * is generated from a source column through a MONOTONE expression
    * (`day = CAST(ts AS DATE)`), a predicate on the source column
    * implies bounds on the partition column — `ts >= L` implies
    * `day >= g(L)` — so a query that filters only on the raw
    * timestamp still prunes date partitions. Supported shapes:
    * CAST(src AS DATE), to_date(src), date_trunc(unit, src),
    * year(src), substring(src, 1, n). Conservative: unrecognized
    * generation expressions or literals that fail to map derive
    * nothing (keep behavior unchanged).
    */
  private def deriveGenerated(generated: Map[String, String],
                              conjuncts: Seq[Expression]): Seq[Expression] = {
    if (generated.isEmpty) return Nil
    generated.toSeq.flatMap { case (gcol, sql) =>
      genMapping(sql).toSeq.flatMap { case (src, g, monotone) =>
        def gLit(e: Expression): Option[Literal] =
          litValue(e).flatMap { case (v, t) => g(v, t) }
            .map { case (gv, gt) => Literal(gv, gt) }
        val ga = UnresolvedAttribute(gcol)
        conjuncts.flatMap {
          case EqualTo(l, r) if attrName(l).contains(src) =>
            gLit(r).map(EqualTo(ga, _))
          case EqualTo(l, r) if attrName(r).contains(src) =>
            gLit(l).map(EqualTo(ga, _))
          case In(a, list) if attrName(a).contains(src) && list.forall(_.foldable) =>
            val mapped = list.map(gLit)
            if (mapped.forall(_.isDefined)) Some(In(ga, mapped.flatten.distinct))
            else None
          // range shapes are sound ONLY for monotone generation
          // expressions — a hash-bucket mapping must never derive them
          case _ if !monotone => None
          case GreaterThan(l, r) if attrName(l).contains(src) =>
            gLit(r).map(GreaterThanOrEqual(ga, _)) // step fn: non-strict
          case GreaterThanOrEqual(l, r) if attrName(l).contains(src) =>
            gLit(r).map(GreaterThanOrEqual(ga, _))
          case LessThan(l, r) if attrName(l).contains(src) =>
            gLit(r).map(LessThanOrEqual(ga, _))
          case LessThanOrEqual(l, r) if attrName(l).contains(src) =>
            gLit(r).map(LessThanOrEqual(ga, _))
          case GreaterThan(l, r) if attrName(r).contains(src) =>
            gLit(l).map(LessThanOrEqual(ga, _)) // lit > src ≡ src < lit
          case GreaterThanOrEqual(l, r) if attrName(r).contains(src) =>
            gLit(l).map(LessThanOrEqual(ga, _))
          case LessThan(l, r) if attrName(r).contains(src) =>
            gLit(l).map(GreaterThanOrEqual(ga, _))
          case LessThanOrEqual(l, r) if attrName(r).contains(src) =>
            gLit(l).map(GreaterThanOrEqual(ga, _))
          case _ => None
        }
      }
    }
  }

  /** Parse a generation expression and, when it is a supported
    * monotone shape over a single source attribute, return
    * (srcColumn, literal mapper). The mapper applies the generation
    * function to a predicate literal via resolved Catalyst eval —
    * exactly the arithmetic the write path used to produce the
    * partition value.
    */
  private def genMapping(sql: String)
      : Option[(String, (Any, DataType) => Option[(Any, DataType)], Boolean)] = Try {
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
  }.toOption.flatMap {
    case c: Cast if c.dataType == DateType =>
      attrName(c.child).map((_, castMapper(DateType), true))
    case f: UnresolvedFunction =>
      val args = f.arguments
      (f.nameParts.last.toLowerCase, args) match {
        case ("to_date", Seq(a)) =>
          attrName(a).map((_, castMapper(DateType), true))
        case ("date_trunc", Seq(u, a)) if litValue(u).isDefined =>
          val unit = litValue(u).get._1
          attrName(a).map((_, { (v: Any, t: DataType) =>
            Try {
              val ts = Cast(Literal(v, t), TimestampType).withTimeZone(sessionTz)
              val e = TruncTimestamp(Literal(unit, StringType), ts, Some(sessionTz))
              (e.eval(), TimestampType)
            }.toOption.filter(_._1 != null)
          }, true))
        case ("year", Seq(a)) =>
          attrName(a).map((_, { (v: Any, t: DataType) =>
            Try {
              val d = Cast(Literal(v, t), DateType).withTimeZone(sessionTz)
              (Year(d).eval(), IntegerType)
            }.toOption.filter(_._1 != null)
          }, true))
        case ("substring" | "substr", Seq(a, p, n))
            if litValue(p).exists(_._1 == 1) && litValue(n).isDefined =>
          attrName(a).map((_, { (v: Any, t: DataType) =>
            if (t != StringType) None
            else Try {
              (Substring(Literal(v, t), Literal(1), Literal(
                litValue(n).get._1.asInstanceOf[Number].intValue())).eval(),
                StringType)
            }.toOption.filter(_._1 != null)
          }, true))
        // hash buckets: `pmod(hash(src), n)` — NOT monotone, so only
        // equality/IN predicates derive (a point lookup on the raw
        // key prunes to one bucket); the eval replays the exact
        // Murmur3(seed 42) + pmod arithmetic the write path ran
        case ("pmod", Seq(h: UnresolvedFunction, nl))
            if h.nameParts.last.equalsIgnoreCase("hash") &&
              h.arguments.length == 1 && litValue(nl).isDefined =>
          val n = litValue(nl).get._1.asInstanceOf[Number].intValue()
          attrName(h.arguments.head).map((_, { (v: Any, t: DataType) =>
            Try {
              (Pmod(new Murmur3Hash(Seq(Literal(v, t))),
                Literal(n)).eval(), IntegerType)
            }.toOption.filter(_._1 != null)
          }, false))
        case _ => None
      }
    case _ => None
  }

  private def castMapper(to: DataType)
      : (Any, DataType) => Option[(Any, DataType)] = (v, t) =>
    Try {
      (Cast(Literal(v, t), to).withTimeZone(sessionTz).eval(), to)
    }.toOption.filter(_._1 != null)

  /** Top-level equality bindings `attr = literal` in the predicate's
    * conjuncts — the shapes bloom-filter skipping can consume.
    */
  def equalityBindings(predicate: Column): Seq[(String, Any)] =
    splitConjuncts(normalize(GraftExpr.expression(predicate))).flatMap {
      case EqualTo(l, r) =>
        (attrName(l), litValue(r), attrName(r), litValue(l)) match {
          case (Some(n), Some((v, _)), _, _) => Some(n -> v)
          case (_, _, Some(n), Some((v, _))) => Some(n -> v)
          case _ => None
        }
      case _ => None
    }

  /** Top-level `attr IN (literals…)` conjuncts: (attr, candidate
    * values) — a file survives bloom pruning if ANY value might be in
    * it.
    */
  def inBindings(predicate: Column): Seq[(String, Seq[Any])] =
    splitConjuncts(normalize(GraftExpr.expression(predicate))).flatMap {
      case In(a, list) if list.forall(_.foldable) =>
        attrName(a).map { n =>
          n -> list.flatMap(litValue(_).map(_._1))
        }
      case _ => None
    }

  /** The Spark 4 Column→Expression converter leaves comparison
    * operators as `UnresolvedFunction("=", ...)` nodes (the analyzer
    * usually resolves them); rewrite the shapes pruning understands
    * into concrete Catalyst operators.
    */
  private def normalize(e: Expression): Expression = e match {
    case f: UnresolvedFunction =>
      val args = f.arguments.map(normalize)
      (f.nameParts.last.toLowerCase, args) match {
        case ("and", Seq(l, r)) => And(l, r)
        case ("or", Seq(l, r)) => Or(l, r)
        case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
        case ("<", Seq(l, r)) => LessThan(l, r)
        case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
        case (">", Seq(l, r)) => GreaterThan(l, r)
        case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
        case ("in", l +: rest) if rest.nonEmpty => In(l, rest)
        case ("startswith", Seq(l, r)) => StartsWith(l, r)
        case ("isnull", Seq(x)) => IsNull(x)
        case ("isnotnull", Seq(x)) => IsNotNull(x)
        case _ => e
      }
    case And(l, r) => And(normalize(l), normalize(r))
    case Or(l, r) => Or(normalize(l), normalize(r))
    case other => other
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** The timezone every derivation/eval here must share with the
    * write path and Spark's own post-scan filter: the SESSION local
    * timezone (graft's entry points set it to UTC, but the library
    * must stay correct in any session).
    */
  private def sessionTz: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  /** Fold a (possibly Cast-wrapped) literal-valued expression.
    * Casts of string literals to timestamp need a timezone to eval —
    * use the session's (what Spark's own filter evaluation will use).
    */
  private def litValue(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(v, t) if v != null => Some((v, t))
    case c: Cast if c.foldable =>
      val cz = if (c.timeZoneId.isEmpty) c.withTimeZone(sessionTz) else c
      Try((cz.eval(), c.dataType)).toOption.filter(_._1 != null)
    case _ => None
  }

  /** Wall-clock rendering ("yyyy-MM-dd[ HH:mm:ss[.f]]") → epoch
    * micros in `tz` — how partition-directory timestamp values parse
    * back.
    */
  private def wallToMicros(s: String, tz: String): Long = {
    val ldt = Try(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
      .getOrElse(java.time.LocalDate.parse(s).atStartOfDay())
    val inst = ldt.atZone(java.time.ZoneId.of(tz)).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** Compare a stored stat string against a literal of type `t`.
    * None when incomparable (unknown type → keep file).
    */
  private def cmp(stored: String, lit: Any, t: DataType): Option[Int] = Try {
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        stored.toLong.compare(lit.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        stored.toDouble.compare(lit.asInstanceOf[Number].doubleValue())
      case _: DecimalType =>
        BigDecimal(stored).compare(lit.asInstanceOf[Decimal].toBigDecimal)
      case StringType =>
        // code-point (UTF-8 byte) order — the order the footer stats
        // were written in; Java String.compareTo (UTF-16 unit order)
        // disagrees between supplementary chars and [U+E000,U+FFFF],
        // same hazard prefixUpper/StartsWith guard against
        UTF8String.fromString(stored).compareTo(lit.asInstanceOf[UTF8String])
      case TimestampType =>
        // footer stats store epoch micros; partition-dir values render
        // as session-local wall time — accept both
        val us = Try(stored.toLong).getOrElse(wallToMicros(stored, sessionTz))
        us.compare(lit.asInstanceOf[Number].longValue())
      case TimestampNTZType =>
        // NTZ wall time is zone-free: epoch encoding fixes UTC
        val us = Try(stored.toLong).getOrElse(wallToMicros(stored, "UTC"))
        us.compare(lit.asInstanceOf[Number].longValue())
      case DateType =>
        // footer stats store epoch days; partition-dir values render
        // as "yyyy-MM-dd" — accept both
        val days = Try(stored.toInt).getOrElse(
          java.time.LocalDate.parse(stored).toEpochDay.toInt)
        days.compare(lit.asInstanceOf[Number].intValue())
      case BooleanType =>
        stored.toBoolean.compare(lit.asInstanceOf[Boolean])
      case _ => throw new MatchError(t)
    }
  }.toOption

  private def mayMatch(f: AddFile, partitionCols: Seq[String],
                       e: Expression): Boolean = {

    def bounds(name: String): Option[(String, String)] =
      if (partitionCols.contains(name))
        f.partitionValues.get(name).map(v => (v, v))
      else for {
        st <- f.stats
        mn <- st.minValues.get(name)
        mx <- st.maxValues.get(name)
      } yield (mn, mx)

    /** keep(cmp(min,lit), cmp(max,lit)): can the file contain a match? */
    def boundsCheck(name: String, lv: Any, t: DataType,
                    keep: (Int, Int) => Boolean): Boolean =
      bounds(name) match {
        case Some((mn, mx)) =>
          (cmp(mn, lv, t), cmp(mx, lv, t)) match {
            case (Some(mnC), Some(mxC)) => keep(mnC, mxC)
            case _ => true
          }
        case None => true
      }

    def decide(l: Expression, r: Expression,
               keep: (Int, Int) => Boolean): Boolean =
      (attrName(l), litValue(r), attrName(r), litValue(l)) match {
        case (Some(name), Some((lv, t)), _, _) =>
          boundsCheck(name, lv, t, keep)
        case (_, _, Some(name), Some((lv, t))) =>
          // lit op attr ≡ attr (flipped op) lit → mirror comparisons
          boundsCheck(name, lv, t, (mnC, mxC) => keep(-mxC, -mnC))
        case _ => true
      }

    e match {
      case EqualTo(l, r) => decide(l, r, (mnC, mxC) => mnC <= 0 && mxC >= 0)
      case LessThan(l, r) => decide(l, r, (mnC, _) => mnC < 0)
      case LessThanOrEqual(l, r) => decide(l, r, (mnC, _) => mnC <= 0)
      case GreaterThan(l, r) => decide(l, r, (_, mxC) => mxC > 0)
      case GreaterThanOrEqual(l, r) => decide(l, r, (_, mxC) => mxC >= 0)
      case In(a, list) if list.forall(_.foldable) =>
        attrName(a) match {
          case Some(name) => list.exists(v =>
            litValue(v).forall { case (lv, t) =>
              boundsCheck(name, lv, t, (mnC, mxC) => mnC <= 0 && mxC >= 0)
            })
          case None => true
        }
      case StartsWith(l, r) =>
        (attrName(l), litValue(r)) match {
          case (Some(name), Some((p: UTF8String, StringType))) =>
            val prefix = p.toString
            bounds(name) match {
              case Some((mn, mx)) =>
                // matches form the interval [prefix, prefixUpper):
                // file range [mn,mx] must intersect it. Footer bounds
                // stay valid under parquet stat truncation (truncated
                // min is ≤ data, truncated max ≥ data), so this only
                // ever keeps extra files, never drops a match.
                // Compare as UTF8String (code-point order): the footer
                // min/max were written in UTF-8 byte order, and Java
                // String.compareTo (UTF-16 unit order) disagrees with
                // it between supplementary chars and [U+E000,U+FFFF].
                UTF8String.fromString(mx)
                    .compareTo(UTF8String.fromString(prefix)) >= 0 &&
                  prefixUpper(prefix).forall(u => UTF8String.fromString(mn)
                    .compareTo(UTF8String.fromString(u)) < 0)
              case None => true
            }
          case _ => true
        }
      case IsNull(a) =>
        attrName(a) match {
          // a partition column's value is constant per file; null
          // partitions surface as the default-partition dir — keep
          case Some(name) if !partitionCols.contains(name) =>
            f.stats.forall(st => st.nullCounts.get(name).forall(_ > 0))
          case _ => true
        }
      case IsNotNull(a) =>
        attrName(a) match {
          case Some(name) if !partitionCols.contains(name) =>
            f.stats.forall(st =>
              st.nullCounts.get(name).forall(_ < st.numRecords))
          case _ => true
        }
      case Or(l, r) =>
        mayMatch(f, partitionCols, l) || mayMatch(f, partitionCols, r)
      case Literal(false, BooleanType) => false // an empty key set
      case _ => true // unsupported shape → cannot exclude
    }
  }

  /** Smallest string above every string with the given prefix (the
    * exclusive upper bound of the prefix interval): increment the last
    * non-￿ char and drop the tail. None when no such bound exists
    * (all-￿ prefix).
    */
  private def prefixUpper(prefix: String): Option[String] = {
    // increment the last incrementable CODE POINT (not UTF-16 unit) so
    // the bound sorts correctly in the same code-point order the stats
    // comparison uses; the surrogate range is skipped — no valid
    // string contains a lone surrogate, so U+E000 is the successor of
    // U+D7FF in achievable values.
    val cps = prefix.codePoints().toArray
    val i = cps.lastIndexWhere(_ < Character.MAX_CODE_POINT)
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= Character.MIN_SURROGATE.toInt &&
          next <= Character.MAX_SURROGATE.toInt)
        next = Character.MAX_SURROGATE.toInt + 1
      Some(new String(cps, 0, i) + new String(Character.toChars(next)))
    }
  }
}
