package graft.lake

import scala.util.Try

import graft.sources.GraftFileIndex
import org.apache.spark.sql.{classic, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.VariantMetadata
import org.apache.spark.sql.functions.expr
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
  *
  * Every entry point hands it one form: resolved, optimized Catalyst
  * conjuncts over LOGICAL column names ([[conjuncts]] for a `Column`,
  * [[skippingForm]] of the filters Spark pushed to a scan). A
  * comparison prunes when one side is a column and the other a literal
  * of that column's type; the file's bound for the column is typed by
  * the column ([[Stats.decode]] for footer stats,
  * [[GraftFileIndex.partitionValue]] for partition values) and compared
  * under Catalyst's ordering for that type.
  */
object Pruning {

  /** The entries of `files` that no conjunct rules out, the bounds of
    * `generated` columns derived from the conjuncts included.
    */
  def prune(files: Seq[AddFile], partitionCols: Seq[String],
            conjuncts: Seq[Expression],
            generated: Seq[(Attribute, Expression)] = Nil): Seq[AddFile] = {
    val all = conjuncts ++ deriveGenerated(generated, conjuncts)
    files.filter(f => all.forall(c => mayMatch(f, partitionCols, c)))
  }

  /** [[prune]] for a `Column` predicate over a table of logical
    * `schema`, resolved in the active session.
    */
  def prune(files: Seq[AddFile], schema: StructType, partitionCols: Seq[String],
            predicate: Column): Seq[AddFile] =
    prune(files, partitionCols, conjuncts(SparkSession.active, schema, predicate))

  /** `f` applied to an empty frame of logical `schema`, analyzed (a
    * typo'd column fails here, loudly: in DML and maintenance ops
    * "prunes nothing" would mean a silent full-table rewrite) and
    * optimized. The frame's rows come from an RDD, so the optimizer
    * cannot evaluate a filter over them.
    */
  private def optimizedOver(spark: SparkSession, schema: StructType)(
      f: DataFrame => DataFrame): LogicalPlan =
    f(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
      .asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan

  /** A `Column` predicate in the one form file skipping reads: its
    * filter condition over `schema` once the optimizer has replaced
    * `BETWEEN`, folded constants, pushed `NOT` down and unwrapped
    * casts, in [[skippingForm]]. A predicate that folds to false is the
    * one conjunct `false` (prune every file); one that folds to true,
    * or that the optimizer turns into anything but a filter (a subquery
    * join), has none (keep every file).
    */
  def conjuncts(spark: SparkSession, schema: StructType, predicate: Column): Seq[Expression] =
    optimizedOver(spark, schema)(_.filter(predicate)) match {
      case Filter(cond, r: LogicalRDD) =>
        // an attribute keeps the spelling it was written in (`ID`);
        // its schema name is the frame's
        val names = r.output.map(a => a.exprId -> a.name).toMap
        skippingForm(Seq(cond), a => names.getOrElse(a.exprId, a.name))
      case _: LocalRelation => Seq(Literal.FalseLiteral)
      case _ => Nil
    }

  /** Resolved predicates as [[prune]] reads them: split into
    * conjuncts, attributes renamed by `logicalName` (physical →
    * logical for the filters Spark pushed to a scan, the schema's
    * spelling for a predicate resolved on the logical schema), a
    * `variant_get` that Spark pushed into the scan as a variant-struct
    * field back to the `variant_get`, and an optimizer `InSet` as IN.
    */
  def skippingForm(filters: Seq[Expression],
                   logicalName: AttributeReference => String): Seq[Expression] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    filters.flatMap(split).map(_.transformUp {
      case a: AttributeReference => a.withName(logicalName(a))
      case GetStructField(a: AttributeReference, i, _) if VariantMetadata.isVariantStruct(a.dataType) =>
        val f = a.dataType.asInstanceOf[StructType](i)
        val vm = VariantMetadata.fromMetadata(f.metadata)
        VariantGet(a.withDataType(VariantType), Literal(vm.path),
          f.dataType, vm.failOnError, Some(vm.timeZoneId))
      case i: InSet => In(i.child, i.hset.toSeq.map(Literal(_, i.child.dataType)))
    })
  }

  /** Each generated column of `schema` (`generated`: column → its
    * generation SQL) with its generation expression resolved and
    * optimized as [[conjuncts]] resolves a predicate, for [[prune]]'s
    * derived bounds; an expression that no longer resolves (its source
    * renamed) derives nothing.
    */
  def generation(spark: SparkSession, schema: StructType,
                 generated: Map[String, String]): Seq[(Attribute, Expression)] =
    generated.toSeq.flatMap { case (c, sql) =>
      schema.find(_.name == c).flatMap { f =>
        Try(optimizedOver(spark, schema)(_.select(expr(sql).as(c)))).toOption.collect {
          case Project(Seq(Alias(g, _)), _) => AttributeReference(c, f.dataType)() -> g
        }
      }
    }

  /** Columns a predicate could drive FILE SKIPPING by — the conjunct
    * shapes [[mayMatch]] understands (attr-vs-literal comparisons, IN,
    * prefix, null tests), by attribute name. CLUSTER BY AUTO (L120)
    * records these per read: they are exactly the columns whose
    * clustering would turn this predicate into skipped files.
    */
  def prunableColumns(conjuncts: Seq[Expression]): Set[String] = {
    def side(l: Expression, r: Expression): Option[String] = (l, r) match {
      case (Col(a), Lit(_)) => Some(a.name)
      case (Lit(_), Col(a)) => Some(a.name)
      case _ => None
    }
    conjuncts.flatMap {
      case b: BinaryComparison => side(b.left, b.right)
      case In(Col(a), list) if list.forall(_.foldable) => Some(a.name)
      case StartsWith(l, r) => side(l, r)
      case IsNull(Col(a)) => Some(a.name)
      case IsNotNull(Col(a)) => Some(a.name)
      case _ => None
    }.toSet
  }

  /** Generated-column pruning (Delta parity): when a partition column
    * `g` is generated from a source column through a MONOTONE
    * expression (`day = CAST(ts AS DATE)`), a predicate on the source
    * column implies bounds on the partition column — `ts >= L` implies
    * `day >= g(L)` — so a query that filters only on the raw timestamp
    * still prunes date partitions. `generated` pairs each generated
    * column with its resolved generation expression. A literal maps by
    * evaluating that expression with the literal in place of the source
    * column: exactly the arithmetic the write path ran. Only the shapes
    * [[monotone]] knows derive anything; a non-monotone one (a hash
    * bucket) derives equality and IN only.
    */
  private def deriveGenerated(generated: Seq[(Attribute, Expression)],
                              conjuncts: Seq[Expression]): Seq[Expression] =
    generated.flatMap { case (ga, g) =>
      val src = g.references.toSeq match {
        case Seq(a) => Some(a)
        case _ => None
      }
      src.zip(monotone(g)).toSeq.flatMap { case (src, isMonotone) =>
        def gLit(e: Expression): Option[Literal] = e match {
          case Lit(l) if l.dataType == src.dataType =>
            Try(Cast(g.transform { case a: Attribute if a.semanticEquals(src) => l },
              ga.dataType, Some(sessionTz)).eval()).toOption
              .filter(_ != null).map(Literal(_, ga.dataType))
          case _ => None
        }
        // the generation expression was resolved apart from the
        // predicate: the source column matches by name
        def isSrc(e: Expression): Boolean = e match {
          case Col(a) => a.name == src.name
          case _ => false
        }
        conjuncts.flatMap {
          case EqualTo(l, r) if isSrc(l) => gLit(r).map(EqualTo(ga, _))
          case EqualTo(l, r) if isSrc(r) => gLit(l).map(EqualTo(ga, _))
          case In(a, list) if isSrc(a) =>
            val mapped = list.map(gLit)
            if (mapped.forall(_.isDefined)) Some(In(ga, mapped.flatten.distinct))
            else None
          // range shapes are sound ONLY for monotone generation
          // expressions — a hash-bucket mapping must never derive them
          case _ if !isMonotone => None
          case GreaterThan(l, r) if isSrc(l) =>
            gLit(r).map(GreaterThanOrEqual(ga, _)) // step fn: non-strict
          case GreaterThanOrEqual(l, r) if isSrc(l) => gLit(r).map(GreaterThanOrEqual(ga, _))
          case LessThan(l, r) if isSrc(l) => gLit(r).map(LessThanOrEqual(ga, _))
          case LessThanOrEqual(l, r) if isSrc(l) => gLit(r).map(LessThanOrEqual(ga, _))
          case GreaterThan(l, r) if isSrc(r) =>
            gLit(l).map(LessThanOrEqual(ga, _)) // lit > src ≡ src < lit
          case GreaterThanOrEqual(l, r) if isSrc(r) => gLit(l).map(LessThanOrEqual(ga, _))
          case LessThan(l, r) if isSrc(r) => gLit(l).map(GreaterThanOrEqual(ga, _))
          case LessThanOrEqual(l, r) if isSrc(r) => gLit(l).map(GreaterThanOrEqual(ga, _))
          case _ => None
        }
      }
    }

  /** Whether a resolved generation expression over one column is a
    * shape pruning derives from: Some(true) when it is monotone in its
    * source (`CAST(ts AS DATE)`, `to_date`, `date_trunc`, `year`,
    * `substring(s, 1, n)`), Some(false) for the hash bucket
    * `pmod(hash(k), n)`, None for anything else.
    */
  private def monotone(g: Expression): Option[Boolean] = {
    def chain(e: Expression): Boolean = e match {
      case _: Attribute => true
      case c: Cast => (c.dataType match {
        case DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }) && (c.child.dataType match {
        case DateType | TimestampType | TimestampNTZType => chain(c.child)
        case _ => false
      })
      case TruncTimestamp(_: Literal, c, _) => chain(c)
      case Year(c) => chain(c)
      case Substring(c, Literal(1, IntegerType), _: Literal) => chain(c)
      case _ => false
    }
    g match {
      case Pmod(h: Murmur3Hash, _: Literal, _) if h.children.forall(_.isInstanceOf[Attribute]) =>
        Some(false)
      case _ if chain(g) => Some(true)
      case _ => None
    }
  }

  /** Top-level equality bindings `attr = literal` in the conjuncts —
    * the shapes bloom-filter skipping can consume.
    */
  def equalityBindings(conjuncts: Seq[Expression]): Seq[(String, Any)] =
    conjuncts.flatMap {
      case EqualTo(Col(a), Lit(l)) => Some(a.name -> l.value)
      case EqualTo(Lit(l), Col(a)) => Some(a.name -> l.value)
      case EqualNullSafe(Col(a), Lit(l)) => Some(a.name -> l.value)
      case EqualNullSafe(Lit(l), Col(a)) => Some(a.name -> l.value)
      case _ => None
    }

  /** Top-level `attr IN (literals…)` conjuncts: (attr, candidate
    * values) — a file survives bloom pruning if ANY value might be in
    * it.
    */
  def inBindings(conjuncts: Seq[Expression]): Seq[(String, Seq[Any])] =
    conjuncts.collect {
      case In(Col(a), list) if list.forall(_.isInstanceOf[Literal]) =>
        a.name -> list.collect { case Lit(l) => l.value }
    }

  /** A column reference. */
  private object Col {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case _ => None
    }
  }

  /** A non-null literal. */
  private object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal if l.value != null => Some(l)
      case _ => None
    }
  }

  /** The timezone every derivation/eval here must share with the
    * write path and Spark's own post-scan filter: the SESSION local
    * timezone (graft's entry points set it to UTC, but the library
    * must stay correct in any session).
    */
  private def sessionTz: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  private def mayMatch(f: AddFile, partitionCols: Seq[String],
                       e: Expression): Boolean = {

    /** The file's (min, max) for `a`, as `a`'s internal values. */
    def bounds(a: AttributeReference): Option[(Any, Any)] =
      if (partitionCols.contains(a.name))
        Try(GraftFileIndex.partitionValue(f.partitionValues.get(a.name), a.dataType, sessionTz))
          .toOption.filter(_ != null).map(v => (v, v))
      else for {
        st <- f.stats
        mn <- st.minValues.get(a.name).flatMap(Stats.decode(_, a.dataType))
        mx <- st.maxValues.get(a.name).flatMap(Stats.decode(_, a.dataType))
      } yield (mn, mx)

    /** keep(cmp(min,lit), cmp(max,lit)): can the file contain a match? */
    def boundsCheck(a: AttributeReference, l: Literal,
                    keep: (Int, Int) => Boolean): Boolean =
      l.dataType != a.dataType || bounds(a).forall { case (mn, mx) =>
        Try {
          val ord = TypeUtils.getInterpretedOrdering(a.dataType)
          keep(ord.compare(mn, l.value), ord.compare(mx, l.value))
        }.getOrElse(true)
      }

    def decide(l: Expression, r: Expression,
               keep: (Int, Int) => Boolean): Boolean = (l, r) match {
      case (Col(a), Lit(v)) => boundsCheck(a, v, keep)
      // lit op attr ≡ attr (flipped op) lit → mirror comparisons
      case (Lit(v), Col(a)) => boundsCheck(a, v, (mnC, mxC) => keep(-mxC, -mnC))
      case _ => true
    }

    val eq = (mnC: Int, mxC: Int) => mnC <= 0 && mxC >= 0
    e match {
      case EqualTo(l, r) => decide(l, r, eq)
      // with a non-null literal, `<=>` holds exactly where `=` does
      case EqualNullSafe(l, r) => decide(l, r, eq)
      case LessThan(l, r) => decide(l, r, (mnC, _) => mnC < 0)
      case LessThanOrEqual(l, r) => decide(l, r, (mnC, _) => mnC <= 0)
      case GreaterThan(l, r) => decide(l, r, (_, mxC) => mxC > 0)
      case GreaterThanOrEqual(l, r) => decide(l, r, (_, mxC) => mxC >= 0)
      case In(Col(a), list) if list.forall(_.foldable) =>
        list.exists {
          case Lit(v) => boundsCheck(a, v, eq)
          case _ => true
        }
      case StartsWith(Col(a), Lit(Literal(p: UTF8String, _))) if a.dataType == StringType =>
        bounds(a) match {
          case Some((mn: UTF8String, mx: UTF8String)) =>
            // matches form the interval [prefix, prefixUpper):
            // file range [mn,mx] must intersect it. Footer bounds
            // stay valid under parquet stat truncation (truncated
            // min is ≤ data, truncated max ≥ data), so this only
            // ever keeps extra files, never drops a match.
            // UTF8String compares in code-point (UTF-8 byte) order,
            // the order the footer min/max were written in.
            mx.compareTo(p) >= 0 &&
              prefixUpper(p.toString).forall(u => mn.compareTo(UTF8String.fromString(u)) < 0)
          case _ => true
        }
      case IsNull(Col(a)) if !partitionCols.contains(a.name) =>
        // a partition column's value is constant per file; null
        // partitions surface as the default-partition dir — keep
        f.stats.forall(st => st.nullCounts.get(a.name).forall(_ > 0))
      case IsNotNull(Col(a)) if !partitionCols.contains(a.name) =>
        f.stats.forall(st => st.nullCounts.get(a.name).forall(_ < st.numRecords))
      case Or(l, r) =>
        mayMatch(f, partitionCols, l) || mayMatch(f, partitionCols, r)
      case Literal(false, BooleanType) => false // folded to false, or an empty key set
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
