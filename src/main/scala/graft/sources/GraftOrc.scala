package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics,
  SupportsRuntimeV2Filtering, Statistics => V2Statistics}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.OrcData
import graft.operators.OrcData.{OrcColStat, OrcStripe, OrcTypeNode}

/** `graftorc` — the engine's own ORC scan as a first-class Spark
  * DataSource V2, the columnar twin of [[GraftParquet]]'s `graftpq`:
  * planned entirely from the from-scratch readers — schema and stripe
  * directory from [[OrcData.readPlan]] (postscript + footer + Metadata
  * tail IO only, never a data byte), stripes decoded by
  * [[OrcData.readStripeRows]] through the [[PageCodec]] chunk codecs
  * (the JDK inflater, snappy-java, lz4-java, zstd-jni). The same three planning
  * levers the built-in ORC source gets from orc-core are re-derived:
  *
  *  - '''column pruning''' ([[SupportsPushDownRequiredColumns]]): only
  *    the requested columns' streams are ever decoded;
  *  - '''filter pushdown''' ([[SupportsPushDownFilters]]): numeric AND
  *    string (code-point) comparisons, IN, LIKE-prefix and IS [NOT]
  *    NULL / null-safe equality prune whole STRIPES against the
  *    Metadata section's per-stripe column statistics before any task
  *    launches, then — when the file carries ROW INDEXES — prune at
  *    ROW-GROUP grain from the RowIndexEntry statistics (two more
  *    O(KB) positional reads per surviving stripe), the reader
  *    SEEKING to the surviving group span mid-stripe instead of
  *    decoding from the top (pruning stays group-granular, so every
  *    filter is still re-evaluated by Spark post-scan, exactly like
  *    orc-core's SearchArgument path);
  *  - '''split planning''': one [[InputPartition]] per surviving
  *    stripe, and each task fetches ONLY its stripe's byte range via a
  *    positional read — at 100 TB a task touches O(its stripe), not
  *    O(its file).
  *
  * Registered as `graftorc` via DataSourceRegister (META-INF/services),
  * so `spark.read.format("graftorc").load(dir)` resolves it. Every ORC
  * primitive kind — including TIMESTAMP (micros), DECIMAL (all
  * precisions) and BINARY — plus nested LIST/MAP/STRUCT to any depth;
  * UNION rejects loudly by name at schema-inference time.
  *
  * FORMAT ROLES, a stated contract: PARQUET is the engine's TABLE
  * format — the commit protocol ([[graft.operators.Maintenance]]:
  * committed tables, time travel, CDF, manifest-served aggregates,
  * the version-tailing stream and the streaming sink) tracks parquet
  * data files only. ORC is an INTERCHANGE format: full read/write
  * fidelity, pushdown parity (filters, aggregates, TopN, hive
  * discovery, DPP), but plain directories only — `graftorc` writes
  * into a committed table's directory reject loudly, and ORC data
  * enters the protocol by conversion (`read graftorc → commitAppend`).
  * One log implementation over one physical format keeps the
  * protocol's invariants (footer-derived stats manifests, exact-writer
  * gates, escaping) provable in one place.
  *
  * A corollary the TOP-N path relies on: ORC therefore has NO
  * file-level manifest tier and never needs one. The parquet side's
  * manifest tier (`aggstats.tsv` string/long extremes answering TOP-N
  * with zero footer IO) exists because committed tables can hold a
  * million files whose footers the driver must otherwise visit; a
  * plain-dir ORC scan already reads each file's O(KB) tail ONCE for
  * stripe planning, and the stripe-grain statistics in that same tail
  * are strictly finer than any per-file summary a manifest could
  * record — a file tier would add a second source of truth with
  * nothing to prune that the stripe tier doesn't already prune.
  * String dominators in that stripe tier are writer-fenced the same
  * way the parquet manifest is `created_by`-gated: pre-HIVE-8732
  * files (PostScript writerVersion 0) have their string statistics
  * stripped at parse ([[graft.operators.OrcData]].readPlan and the
  * row-group twin below), so a UTF-16-ordered extreme can never
  * dominate away a stripe holding true top-k rows.
  */
class GraftOrc extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftorc"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType =
    GraftOrc.inferDirSchema(GraftParquet.pathOf(options))

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftOrcTable(schema,
      GraftParquet.pathOf(new CaseInsensitiveStringMap(properties)),
      GraftParquet.identityPartNames(partitioning, "graftorc"))
}

object GraftOrc {

  /** The directory's current table schema (file leaves + partition
    * columns), empty for a missing/fresh target — shared by schema
    * inference and the write path's append validation (on writes
    * Spark hands `getTable` the QUERY's schema).
    */
  private[sources] def inferDirSchema(path: String): StructType = {
    if (!new java.io.File(path).exists()) return new StructType()
    val partCols = GraftOrc.partitionColsOf(path)
    val files =
      if (partCols.isEmpty) GraftOrc.listFiles(path)
      else GraftParquet
        .listPartitionedFiles(path, partCols.map(_._1), ".orc")
        .map(_._1)
    if (files.isEmpty) return new StructType()
    val base = GraftOrc.toSparkSchema(
      OrcData.readPlan(files.head.toPath).meta.types)
    StructType(base.fields ++ partCols.map { case (n, t) =>
      StructField(n, t, nullable = true)
    })
  }

  /** Discovered hive partition columns of a plain `.orc` layout (the
    * commit protocol is parquet-only, so ORC dirs are always
    * discovery, never tracked).
    */
  private[sources] def partitionColsOf(path: String)
      : Seq[(String, DataType)] =
    GraftParquet.discoverPartitionCols(path, ".orc")

  private[sources] def listFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isFile) Seq(f)
    else {
      val kids = f.listFiles()
      require(kids != null, s"graftorc: cannot list $dir")
      kids.filter(c => c.isFile && c.getName.endsWith(".orc"))
        .sortBy(_.getName).toSeq
    }
  }

  /** Root-struct fields to a Spark schema; kinds per orc_proto
    * Type.Kind, restricted to what [[OrcData.readColumnTree]] decodes —
    * LIST/MAP/STRUCT recurse (Spark's ORC source reports every nested
    * level nullable, matched here for schema parity).
    */
  private[sources] def toSparkSchema(types: Seq[OrcTypeNode])
      : StructType = {
    require(types.nonEmpty && types.head.kind == 12,
      "graftorc: ORC root type is not a struct")
    def dataTypeOf(id: Int, n: String): DataType = {
      val node = types(id)
      node.kind match {
        case 0 => BooleanType
        case 1 => ByteType
        case 2 => ShortType
        case 3 => IntegerType
        case 4 => LongType
        case 5 => FloatType
        case 6 => DoubleType
        case 7 => StringType
        case 8 => BinaryType
        case 9 | 18 => TimestampType // micros from the decode layer
        case 14 =>
          require(node.precision > 0 && node.precision <= 38 &&
            node.scale >= 0 && node.scale <= node.precision,
            s"graftorc: DECIMAL(${node.precision},${node.scale}) on " +
              s"'$n' out of range")
          DecimalType(node.precision, node.scale)
        case 15 => DateType
        case 10 =>
          require(node.subtypes.length == 1,
            s"graftorc: LIST '$n' arity ${node.subtypes.length}")
          ArrayType(dataTypeOf(node.subtypes.head, s"$n.element"),
            containsNull = true)
        case 11 =>
          require(node.subtypes.length == 2,
            s"graftorc: MAP '$n' arity ${node.subtypes.length}")
          MapType(dataTypeOf(node.subtypes.head, s"$n.key"),
            dataTypeOf(node.subtypes(1), s"$n.value"),
            valueContainsNull = true)
        case 12 =>
          require(node.subtypes.length == node.fieldNames.length,
            s"graftorc: STRUCT '$n' field/subtype arity mismatch")
          StructType(node.fieldNames.zip(node.subtypes).map {
            case (fn, fid) =>
              StructField(fn, dataTypeOf(fid, s"$n.$fn"),
                nullable = true)
          })
        case k => throw new IllegalArgumentException(
          s"graftorc: column '$n' ORC kind $k unsupported " +
            "(UNION rejects by name)")
      }
    }
    val root = types.head
    require(root.subtypes.length == root.fieldNames.length,
      "torn ORC: root field/subtype arity mismatch")
    StructType(root.fieldNames.zip(root.subtypes).map { case (n, id) =>
      StructField(n, dataTypeOf(id, n), nullable = true)
    })
  }

  /** Translate a pushed [[Aggregation]] into per-file partial rows
    * from ORC stripe statistics alone (the Metadata section the scan
    * planning already reads) — COUNT(*) from the stripe directory,
    * COUNT(col) from numberOfValues, MIN/MAX from EXACT
    * IntegerStatistics sint64s (the widened doubles round past 2^53)
    * or EXACT StringStatistics minimum/maximum (the truncated
    * lowerBound/upperBound stand-ins only prune, never answer), and —
    * beyond what parquet can offer — SUM(int family) from
    * IntegerStatistics.sum, which the writer drops on overflow so its
    * presence proves exactness. None rejects the pushdown: floats and
    * doubles always (writers fold min/max/sum past NaN where Spark
    * orders NaN largest), any stripe missing a needed statistic, any
    * file without the Metadata section.
    */
  private[sources] def planAggregation(agg: Aggregation, path: String,
      consumed: Array[Filter] = Array.empty)
      : Option[GraftParquet.PqPushedAgg] = {
    import GraftParquet.{PqAggRow, PqAggSpec, PqCountCol, PqCountStar,
      PqMax, PqMin, PqPushedAgg, PqSum}
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val partCols = partitionColsOf(path)
    val partNames = partCols.map(_._1)
    val partType = partCols.toMap
    // GROUP BY pushes only over hive partition dirs (their values are
    // exact file-wide), like the parquet twin
    val groupsOpt = agg.groupByExpressions.toSeq.map(ref)
    if (groupsOpt.exists(_.isEmpty)) return None
    val groups = groupsOpt.flatten
    if (!groups.forall(partNames.contains)) return None

    val files: Seq[(java.io.File, Map[String, Option[String]])] =
      (if (partCols.isEmpty)
        listFiles(path).map((_, Map.empty[String, Option[String]]))
      else GraftParquet.listPartitionedFiles(path, partNames, ".orc")
        .map { case (f, vs) => (f, partNames.zip(vs).toMap) })
        .filter { case (_, pv) => consumed.forall(
          GraftParquet.evalPartitionExact(_, partType, pv)) }
    if (files.isEmpty) {
      // nothing survives a consumed predicate — the parquet twin's
      // empty-answer shaping (counts are Long, partition extremes
      // tracked; a data-leaf MIN/MAX falls to the zero-stripe scan)
      if (consumed.isEmpty) return None
      val specsOpt = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(PqAggSpec(PqCountStar, "count(*)", LongType))
        case c: Count if !c.isDistinct =>
          ref(c.column())
            .map(n => PqAggSpec(PqCountCol(n), s"count($n)", LongType))
        case m: Min => for { n <- ref(m.column())
          dt <- partType.get(n) } yield PqAggSpec(PqMin(n), s"min($n)", dt)
        case m: Max => for { n <- ref(m.column())
          dt <- partType.get(n) } yield PqAggSpec(PqMax(n), s"max($n)", dt)
        case _ => None
      }
      if (specsOpt.exists(_.isEmpty) || specsOpt.isEmpty) return None
      return Some(PqPushedAgg(groups.map(g => g -> partType(g)),
        specsOpt.flatten, Vector.empty))
    }
    val headTypes = OrcData.readPlan(files.head._1.toPath).meta.types
    val headRoot = headTypes.head
    val idByName = headRoot.fieldNames.zip(headRoot.subtypes).toMap
    def kindOf(c: String): Option[Int] =
      idByName.get(c).map(headTypes(_).kind)
    // kinds 1-4 = byte/short/int/long (IntegerStatistics), 7 =
    // string, 15 = date (DateStatistics exact epoch days); partition
    // columns answer from their EXACT dir values, any parsable type
    def minMaxType(c: String): Option[DataType] =
      partType.get(c).filter {
        case ByteType | ShortType | IntegerType | LongType |
          StringType | DateType => true
        case _ => false
      }.orElse(kindOf(c).collect {
        case 1 => ByteType
        case 2 => ShortType
        case 3 => IntegerType
        case 4 => LongType
        case 7 => StringType
        case 15 => DateType
      })
    val specsOpt = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(PqAggSpec(PqCountStar, "count(*)", LongType))
      case c: Count if !c.isDistinct =>
        ref(c.column())
          .filter(n => partNames.contains(n) || idByName.contains(n))
          .map(n => PqAggSpec(PqCountCol(n), s"count($n)", LongType))
      case m: Min => for { n <- ref(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMin(n), s"min($n)", dt)
      case m: Max => for { n <- ref(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMax(n), s"max($n)", dt)
      case s: Sum if !s.isDistinct =>
        ref(s.column()).filter(n => kindOf(n).exists(k =>
          k >= 1 && k <= 4))
          .map(n => PqAggSpec(PqSum(n), s"sum($n)", LongType))
      case _ => None
    }
    if (specsOpt.exists(_.isEmpty) || specsOpt.isEmpty) return None
    val specs = specsOpt.flatten

    // per-file partials computed in PARALLEL on the bounded planning
    // pool (each is one independent plan read — the same overlap the
    // parquet footer tier and the scan planner got; a sequential
    // sweep over a million-file layout plans for minutes on one
    // core). Right(None) = zero-row file under GROUP BY (contributes
    // nothing), Left = a statistic needed for exactness is missing
    // and the whole pushdown rejects.
    val perFile: Seq[Either[Unit,
        Option[(Seq[Option[String]], Array[Any])]]] =
      GraftParquet.planPar(files) { case (f, partVals) =>
        val plan = OrcData.readPlan(f.toPath)
        val types = plan.meta.types
        val root = types.head
        val ids = root.fieldNames.zip(root.subtypes).toMap
        val stripes = plan.meta.stripes
        if (stripes.nonEmpty &&
            plan.stripeStats.length != stripes.length)
          Seq(Left(())) // Metadata absent or torn: nothing exact
        else {
          val fileRows = stripes.map(_.rows).sum
          // a zero-row file contributes nothing under GROUP BY (SQL
          // emits only groups with rows); a GLOBAL aggregate still
          // accumulates
          if (groups.nonEmpty && fileRows == 0) Seq(Right(None))
          else {
            val partials: Array[Any] = new Array[Any](specs.length)
            var ok = true
            specs.zipWithIndex.foreach { case (spec, i) =>
              def statOf(c: String, si: Int): Option[OrcColStat] = for {
                id <- ids.get(c)
                if types(id).kind == headTypes(idByName(c)).kind
                st <- plan.stripeStats(si).lift(id)
              } yield st
              if (ok) spec.kind match {
                case PqCountStar =>
                  partials(i) = Long.box(fileRows)
                case PqCountCol(c) if partNames.contains(c) =>
                  partials(i) =
                    Long.box(if (partVals(c).isDefined) fileRows else 0L)
                case PqCountCol(c) =>
                  var n = 0L
                  stripes.indices.foreach { si =>
                    statOf(c, si).flatMap(_.nonNull) match {
                      case Some(nn) => n += nn
                      case None => ok = false
                    }
                  }
                  partials(i) = Long.box(n)
                case PqSum(c) =>
                  var s: Any = null
                  stripes.indices.foreach { si =>
                    statOf(c, si) match {
                      case Some(st) if st.nonNull.contains(0L) =>
                        () // all null
                      case Some(st) if st.sumL.isDefined =>
                        s = if (s == null) Long.box(st.sumL.get)
                          else Long.box(s.asInstanceOf[Long] + st.sumL.get)
                      case _ => ok = false // overflow-dropped or absent
                    }
                  }
                  partials(i) = s
                case PqMin(c) if partNames.contains(c) =>
                  partials(i) =
                    if (fileRows == 0) null
                    else GraftParquet.partitionValue(partType(c),
                      partVals(c))
                case PqMax(c) if partNames.contains(c) =>
                  partials(i) =
                    if (fileRows == 0) null
                    else GraftParquet.partitionValue(partType(c),
                      partVals(c))
                case PqMin(c) =>
                  partials(i) = orcExtreme(spec, c, stripes.indices,
                    statOf, wantMin = true).getOrElse { ok = false; null }
                case PqMax(c) =>
                  partials(i) = orcExtreme(spec, c, stripes.indices,
                    statOf, wantMin = false).getOrElse { ok = false; null }
              }
            }
            if (!ok) Seq(Left(()))
            else Seq(Right(Some((groups.map(partVals), partials))))
          }
        }
      }
    if (perFile.exists(_.isLeft)) return None
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], Array[Any]]
    perFile.foreach {
      case Right(Some((key, partials))) =>
        acc.get(key) match {
          case None => acc(key) = partials
          case Some(old) =>
            specs.zipWithIndex.foreach { case (spec, i) =>
              old(i) = GraftParquet.mergePartial(spec, old(i),
                partials(i))
            }
        }
      case _ => ()
    }
    Some(PqPushedAgg(groups.map(g => g -> partType(g)), specs,
      acc.iterator.map { case (k, v) => PqAggRow(k, v) }.toVector))
  }

  /** File-wide MIN/MAX of one column from its stripe stats: Some(null)
    * when every stripe is all-null (no contribution), None when any
    * stripe with values lacks the exact statistic.
    */
  private def orcExtreme(spec: GraftParquet.PqAggSpec, c: String,
      stripes: Range, statOf: (String, Int) => Option[OrcColStat],
      wantMin: Boolean): Option[Any] = {
    var best: Any = null
    for (si <- stripes) {
      val st = statOf(c, si).getOrElse(return None)
      if (!st.nonNull.contains(0L)) { // all-null stripes contribute 0
        val v: Any = spec.dt match {
          case StringType =>
            if (!st.exactS) return None
            val s = (if (wantMin) st.minS else st.maxS)
              .getOrElse(return None)
            UTF8String.fromString(s)
          case ByteType =>
            Byte.box((if (wantMin) st.minL else st.maxL)
              .getOrElse(return None).toByte)
          case ShortType =>
            Short.box((if (wantMin) st.minL else st.maxL)
              .getOrElse(return None).toShort)
          case IntegerType | DateType =>
            Int.box((if (wantMin) st.minL else st.maxL)
              .getOrElse(return None).toInt)
          case _ =>
            Long.box((if (wantMin) st.minL else st.maxL)
              .getOrElse(return None))
        }
        val better =
          if (best == null) true
          else spec.dt match {
            case StringType => val cmp = v.asInstanceOf[UTF8String]
              .compareTo(best.asInstanceOf[UTF8String])
              if (wantMin) cmp < 0 else cmp > 0
            case _ =>
              val a = v match {
                case x: java.lang.Number => x.longValue
              }
              val b = best match {
                case x: java.lang.Number => x.longValue
              }
              if (wantMin) a < b else a > b
          }
        if (better) best = v
      }
    }
    Some(best)
  }
}

private[sources] class GraftOrcTable(schema: StructType, path: String,
    writeParts: Seq[String] = Nil)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graftorc $path"
  override def schema(): StructType = schema
  override def partitioning(): Array[Transform] =
    writeParts.map(org.apache.spark.sql.connector.expressions
      .Expressions.identity).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA) // first write to a fresh dir
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    require(schema.fields.nonEmpty,
      "graftorc: no .orc files under the path")
    new GraftOrcScanBuilder(schema, path)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(path, info.schema(), orc = true,
      declaredParts = writeParts)
}

private[sources] class GraftOrcScanBuilder(fullSchema: StructType,
    path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var consumed: Array[Filter] = Array.empty
  private var aggPlan: Option[GraftParquet.PqPushedAgg] = None
  private var limit: Int = -1
  private var topn: Option[GraftParquet.PqTopN] = None

  private lazy val partTypeB: Map[String, DataType] =
    GraftOrc.partitionColsOf(path).toMap

  /** Every pushed filter is a consumed (row-exact) partition
    * predicate — see the graftpq twin.
    */
  private def allConsumed: Boolean = pushed.forall(consumed.contains)

  /** TOP-N pushdown, the graftpq twin over STRIPE statistics: a
    * stripe is dropped when other stripes' exact IntegerStatistics /
    * DateStatistics / StringStatistics prove k rows rank strictly
    * before its every row (see [[GraftParquet.topNKeep]]). Int-backed
    * and STRING keys (string bounds count only when they come from
    * the EXACT minimum/maximum fields — the truncated
    * lowerBound/upperBound stand-ins never dominate); ORC timestamp
    * stats are milli-truncated (not exact) and float/double share the
    * parquet-side NaN hazard; refused under pushed filters.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limitN: Int): Boolean = {
    if (!allConsumed || orders.length != 1 || limitN <= 0)
      return false
    val o = orders(0)
    val colName = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    colName match {
      case Some(c) if fullSchema.fields.find(_.name == c)
          .exists(_.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
              DateType | StringType => true
            case _ => false
          }) =>
        topn = Some(GraftParquet.PqTopN(c,
          o.direction() == org.apache.spark.sql.connector.expressions
            .SortDirection.ASCENDING,
          o.nullOrdering() == org.apache.spark.sql.connector.expressions
            .NullOrdering.NULLS_FIRST, limitN))
        true
      case _ => false
    }
  }

  /** LIMIT caps PLANNING (leading stripes covering the limit) —
    * partial push, unfiltered scans only; see the graftpq twin.
    */
  override def pushLimit(n: Int): Boolean = {
    if (!allConsumed) false
    else { limit = n; true }
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projections (count(*)) still need row counts: keep the
    // first column so every partition knows its cardinality
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(fullSchema.fields.take(1))

  /** Accept the comparisons stripe stats can act on — numeric columns
    * against Number literals, string columns against String literals
    * (ORC string stats order = code points = UTF-8 byte order, exactly
    * Spark's string comparison); EVERYTHING is returned for Spark to
    * re-evaluate (stats pruning is stripe-granular, never row-exact).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def ok(c: String, v: Any): Boolean =
      (numericCol(c) && v.isInstanceOf[Number]) ||
        (stringCol(c) && v.isInstanceOf[String]) ||
        (temporalCol(c) && GraftParquet.temporalValue(v))
    def prunable(f: Filter): Boolean = f match {
      case EqualTo(c, v) => ok(c, v)
      case EqualNullSafe(c, v) => v == null || ok(c, v)
      case GreaterThan(c, v) => ok(c, v)
      case GreaterThanOrEqual(c, v) => ok(c, v)
      case LessThan(c, v) => ok(c, v)
      case LessThanOrEqual(c, v) => ok(c, v)
      case IsNotNull(c) => numericCol(c) || stringCol(c) || temporalCol(c)
      case IsNull(c) => numericCol(c) || stringCol(c) || temporalCol(c)
      case In(c, vs) => vs != null &&
        vs.forall(v => v == null || ok(c, v))
      case StringStartsWith(c, p) => p != null && stringCol(c)
      case _ => false
    }
    // temporal literals normalize to days/micros — the units the
    // parsed DateStatistics/TimestampStatistics ranges carry
    pushed = filters.filter(prunable).map(GraftParquet.normTemporal)
    // row-exact partition predicates are CONSUMED — see the graftpq
    // twin: applied file-in-or-file-out at planning, removed from
    // Spark's re-evaluation, re-arming agg push and the planning caps
    val (exact, residual) = filters.partition(f =>
      GraftParquet.partitionExact(GraftParquet.normTemporal(f),
        partTypeB))
    consumed = exact.map(GraftParquet.normTemporal)
    pushed = (pushed ++ consumed).distinct
    residual
  }

  private def numericCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name).exists(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType => true
      case _ => false
    })

  private def stringCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name)
      .exists(_.dataType == StringType)

  private def temporalCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name).exists(f => f.dataType match {
      case DateType | TimestampType => true
      case _ => false
    })

  override def pushedFilters(): Array[Filter] = pushed

  /** Aggregates push only on an unfiltered scan (stripe stats are
    * container-granular); a successful push pre-computes the partial
    * row from the Metadata section and build() returns the shared
    * zero-data-IO scan.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!allConsumed) return false
    aggPlan = GraftOrc.planAggregation(aggregation, path, consumed)
    aggPlan.isDefined
  }

  override def build(): Scan = aggPlan match {
    case Some(p) => new GraftPqAggScan(p, path, fmt = "graftorc")
    case None =>
      new GraftOrcScan(fullSchema, required, pushed, path, limit, topn,
        consumed)
  }
}

/** One surviving stripe: the unit of scan parallelism. The stripe
  * entry carries its absolute offset and section lengths, so the
  * reader fetches exactly its byte range.
  */
final case class GraftOrcPartition(path: String, stripe: OrcStripe,
    compression: Int, blockSize: Int, types: Seq[OrcTypeNode],
    colIds: Seq[Int], stride: Int = 0,
    groupRange: Option[(Int, Int)] = None,
    // hive partition fields: (name, type, raw dir value) — spliced as
    // constants by the reader, never decoded from the file
    partSpec: Seq[(String, DataType, Option[String])] = Nil)
  extends InputPartition

private[sources] class GraftOrcScan(fullSchema: StructType,
    required: StructType, pushed: Array[Filter], path: String,
    limit: Int = -1,
    topn: Option[GraftParquet.PqTopN] = None,
    consumed: Array[Filter] = Array.empty)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime-injected filters (dynamic pruning: the build side's
    * distinct join keys as an IN) — composed with the static set
    * through stripe stats, row-group stats, and bloom probes.
    * Group-granular pruning may keep superset rows; the join discards
    * them, exactly the contract.
    */
  private var runtime: Array[Filter] = Array.empty
  private def filters: Array[Filter] = pushed ++ runtime

  /** Everything but the row-exact consumed partition predicates —
    * the planning caps stay armed while this is empty (graftpq twin).
    */
  private def inexactFilters: Array[Filter] =
    pushed.filterNot(consumed.contains) ++ runtime

  @transient @volatile private var cached: Array[InputPartition] = null

  /** Runtime-prunable columns: every flat field the stripe/row-group
    * stats and bloom machinery can act on — restricted to the scan's
    * OUTPUT (Spark resolves these against the pruned readSchema).
    */
  override def filterAttributes(): Array[NamedReference] = {
    val out = required.fields.map(_.name).toSet
    fullSchema.fields.collect {
      case f if out(f.name) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | StringType => true
        case _ => false
      }) => Expressions.column(f.name)
    }
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val conv = predicates.flatMap(GraftParquet.predicateToFilter)
    if (conv.nonEmpty) {
      runtime ++= conv
      cached = null // next planInputPartitions re-prunes
    }
  }

  /** Planning-time cardinality/size from the SURVIVING stripes —
    * rows bounded by each stripe's planned row-group span, bytes the
    * stripe data prorated by that span and by the required-column
    * share — so a selective `graftorc` scan that lands under the
    * broadcast threshold actually broadcasts.
    */
  override def estimateStatistics(): V2Statistics = {
    val parts = planInputPartitions()
    var rows = 0L
    var bytes = 0L
    parts.foreach { ip =>
      val p = ip.asInstanceOf[GraftOrcPartition]
      val total = p.stripe.rows
      val surv = p.groupRange match {
        case Some((g0, g1)) if p.stride > 0 =>
          val start = math.min(total, g0.toLong * p.stride)
          val end =
            if (g1 == Int.MaxValue) total
            else math.min(total, g1.toLong * p.stride)
          math.max(0L, end - start)
        case _ => total
      }
      val leafShare =
        if (p.types.isEmpty || p.types.head.subtypes.isEmpty) 1.0
        else p.colIds.size.toDouble / p.types.head.subtypes.size
      rows += surv
      bytes += (p.stripe.dataLength * leafShare *
        (if (total == 0) 0.0 else surv.toDouble / total)).toLong
    }
    new V2Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String =
    s"graftorc $path PushedFilters: [${pushed.mkString(", ")}], " +
      s"ConsumedPartitionFilters: [${consumed.mkString(", ")}], " +
      s"RuntimeFilters: [${runtime.mkString(", ")}], " +
      topn.map(t => s"PushedTopN: ORDER BY ${t.col} " +
        s"${if (t.asc) "ASC" else "DESC"} " +
        s"${if (t.nullsFirst) "NULLS FIRST" else "NULLS LAST"} " +
        s"LIMIT ${t.k}, ").getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Driver-side planning from file tails only. A stripe is planned
    * out when any pushed comparison is disjoint with its Metadata
    * min/max; files written without the Metadata section keep every
    * stripe (conservative). When the file carries ROW INDEXES and a
    * filter is pushed, two more O(KB) positional reads per surviving
    * stripe (its index area + stripe footer) prune at ROW-GROUP grain:
    * a stripe whose every group is disjoint drops entirely, and a
    * partially-matching stripe plans only its surviving group span —
    * the reader then SEEKS to that span instead of decoding the
    * stripe.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    var c = cached
    if (c == null) { c = capToLimit(doPlanInputPartitions()); cached = c }
    c
  }

  /** A pushed LIMIT keeps only the leading stripes covering it —
    * exact on an unfiltered scan; any filter disables the cap.
    */
  private def capToLimit(all: Array[InputPartition])
      : Array[InputPartition] = {
    if (limit < 0 || inexactFilters.nonEmpty) return all
    var acc = 0L
    var k = 0
    while (k < all.length && acc < limit) {
      acc += all(k).asInstanceOf[GraftOrcPartition].stripe.rows
      k += 1
    }
    java.util.Arrays.copyOfRange(all, 0, k)
  }

  private def doPlanInputPartitions(): Array[InputPartition] = {
    val pushed = filters // static + runtime, through every tier below
    val partCols = GraftOrc.partitionColsOf(path)
    val partColTypes = partCols.toMap
    val files: Seq[(java.io.File, Map[String, Option[String]])] =
      if (partCols.isEmpty)
        GraftOrc.listFiles(path)
          .map((_, Map.empty[String, Option[String]]))
      else GraftParquet
        .listPartitionedFiles(path, partCols.map(_._1), ".orc")
        .map { case (f, vs) => (f, partCols.map(_._1).zip(vs).toMap) }
    // consumed partition predicates apply EXACTLY, file-in-or-file-out
    val filesExact = files.filter { case (_, pv) =>
      consumed.forall(GraftParquet.evalPartitionExact(_, partColTypes,
        pv))
    }
    // per-file plan reads (postscript + footer + Metadata + stripe
    // indexes) are independent positional IO — overlap them on the
    // bounded planning pool, order preserved (same rationale as the
    // parquet side: a sequential tail sweep is the driver's planning
    // bottleneck at 100 TB). Each emitted stripe pairs with its TOP-N
    // dominance stats (rows, nulls, normalized bounds) when a top-n
    // is pushed — folded globally after the sweep.
    val pairs = GraftParquet.planPar(filesExact) { case (f, partVals) =>
      // dir values hold for EVERY row of the file: a disproven filter
      // drops it before any IO (numeric/date ranges are min = max, a
      // string value is its own bounds, None = all-null)
      val partStat: String => Option[OrcColStat] = c =>
        partVals.get(c).map {
          case None => OrcColStat(None, None, None, None,
            nonNull = Some(0L), hasNull = Some(true))
          case Some(s) =>
            val d = s.toDoubleOption.orElse(scala.util.Try(
              java.time.LocalDate.parse(s).toEpochDay.toDouble)
              .toOption)
            OrcColStat(d.map(Math.nextDown), d.map(Math.nextUp),
              Some(s), Some(s), nonNull = Some(1L),
              hasNull = Some(false))
        }
      if (!pushed.forall(survivesStat(partStat, _)))
        Seq.empty[(InputPartition,
          (Long, Option[Long], Option[(Long, Long)],
           Option[(UTF8String, UTF8String)]))]
      else {
      val partSpec: Seq[(String, DataType, Option[String])] =
        required.fields.toSeq.collect {
          case rf if partColTypes.contains(rf.name) =>
            (rf.name, partColTypes(rf.name), partVals(rf.name))
        }
      val dataNames = required.fields.map(_.name)
        .filterNot(partColTypes.contains).toSeq
      val plan = OrcData.readPlan(f.toPath)
      val root = plan.meta.types.head
      val colIds = OrcData.resolveColumns(plan.meta.types, dataNames)
      val idByName = root.fieldNames.zip(root.subtypes).toMap
      val stride = plan.meta.rowIndexStride
      val pushedIds = pushed.flatMap(colsOf).distinct
        .flatMap(idByName.get).toSeq
      val useIx = stride > 0 && pushedIds.nonEmpty
      val ch =
        if (!useIx) null
        else java.nio.channels.FileChannel.open(f.toPath,
          java.nio.file.StandardOpenOption.READ)
      // TOP-N dominance material for one stripe: rows, known nulls
      // (numberOfValues counts non-null), exact IntegerStatistics /
      // DateStatistics long bounds plus exact StringStatistics bounds
      // (truncated lower/upperBound stand-ins carry None — they may
      // understate a stripe's span and must never dominate), in
      // NATURAL order (topNKeepLong/Str normalize to the rank domain)
      def tnStat(stripe: OrcStripe, i: Int)
          : (Long, Option[Long], Option[(Long, Long)],
             Option[(UTF8String, UTF8String)]) = topn match {
        case Some(t) =>
          val st = for {
            id <- idByName.get(t.col)
            sts <- plan.stripeStats.lift(i)
            s <- sts.lift(id)
          } yield s
          val nulls = st.flatMap(_.nonNull).map(nn => stripe.rows - nn)
          val bounds = for { s <- st; a <- s.minL; b <- s.maxL }
            yield (a, b)
          val boundsS = for {
            s <- st if s.exactS; a <- s.minS; b <- s.maxS
          } yield (UTF8String.fromString(a), UTF8String.fromString(b))
          (stripe.rows, nulls, bounds, boundsS)
        case None => (0L, None, None, None)
      }
      try {
        plan.meta.stripes.zipWithIndex.iterator.filter { case (_, i) =>
          val stats = plan.stripeStats.lift(i).getOrElse(Nil)
          pushed.forall(survives(stats, idByName, _))
        }.flatMap { case (stripe, si) =>
          val range: Option[(Int, Int)] =
            if (!useIx || stripe.indexLength == 0) Some((0, Int.MaxValue))
            else {
              def readAt(pos: Long, n: Long): Array[Byte] = {
                require(n <= Int.MaxValue, s"graftorc: $n-byte read")
                val bb = java.nio.ByteBuffer.allocate(n.toInt)
                var p = pos
                while (bb.hasRemaining) {
                  val r = ch.read(bb, p)
                  require(r > 0, "torn ORC: short planning read")
                  p += r
                }
                bb.array()
              }
              val ixBytes = readAt(stripe.offset, stripe.indexLength)
              val ftBytes = readAt(stripe.offset + stripe.indexLength +
                stripe.dataLength, stripe.footerLength)
              val gsRaw = OrcData.rowGroupStats(ixBytes, ftBytes,
                plan.meta.compression, plan.meta.blockSize, pushedIds)
              // row-group twin of readPlan's string-stat writer fence:
              // pre-HIVE-8732 index entries carry UTF-16-ordered
              // string extremes that must not feed byte-ordered proofs
              val gs =
                if (plan.meta.writerVersion >= 1) gsRaw
                else gsRaw.view
                  .mapValues(_.map(OrcData.stripStringStats)).toMap
              // per-group BLOOM probes for the equality forms — the
              // pruning min/max can't give on high-cardinality
              // unsorted keys; same two planning reads
              val eqIds = pushed.flatMap {
                case EqualTo(c, _) => Seq(c)
                case EqualNullSafe(c, v) if v != null => Seq(c)
                case In(c, _) => Seq(c)
                case _ => Nil
              }.distinct.flatMap(idByName.get)
              val blooms: Map[Int, Seq[OrcData.OrcBloom]] =
                if (eqIds.isEmpty) Map.empty
                else OrcData.rowGroupBlooms(ixBytes, ftBytes,
                  plan.meta.compression, plan.meta.blockSize, eqIds)
              def bloomAlive(g: Int, flt: Filter): Boolean = {
                def might(c: String, v: Any): Boolean = (for {
                  id <- idByName.get(c)
                  bl <- blooms.get(id)
                  bg <- bl.lift(g)
                  h <- orcHashOf(plan.meta.types(id).kind, v)
                } yield OrcData.orcBloomMightContain(bg, h))
                  .getOrElse(true)
                flt match {
                  case EqualTo(c, v) => might(c, v)
                  case EqualNullSafe(c, v) if v != null => might(c, v)
                  case In(c, vs) =>
                    val live = vs.filter(_ != null)
                    live.isEmpty || live.exists(might(c, _))
                  case _ => true
                }
              }
              val nGroups =
                ((stripe.rows + stride - 1) / stride).toInt
              val byName: Map[String, Seq[OrcColStat]] =
                idByName.flatMap { case (n, id) =>
                  gs.get(id).map(n -> _)
                }
              val alive = (0 until nGroups).filter { g =>
                pushed.forall(survivesStat(
                  c => byName.get(c).flatMap(_.lift(g)), _)) &&
                pushed.forall(bloomAlive(g, _))
              }
              if (alive.isEmpty) None // every group disjoint: drop
              else Some((alive.head, alive.last + 1))
            }
          range.map { case (g0, g1) =>
            (GraftOrcPartition(f.getAbsolutePath, stripe,
              plan.meta.compression, plan.meta.blockSize,
              plan.meta.types, colIds, stride,
              if (g0 == 0 && g1 == Int.MaxValue) None
              else Some((g0, g1)),
              partSpec): InputPartition, tnStat(stripe, si))
          }
        }.toVector
      } finally if (ch != null) ch.close()
      }
    }
    topn match {
      // the parquet twin's guard, mirrored: a stripe whose emitted
      // partition was index-narrowed to a (g0,g1) row-group subset
      // must not credit its FULL row count as dominators (the
      // narrowed-out groups' rows are never read). Currently believed
      // unreachable — only consumed partition predicates coexist with
      // a pushed top-n and they cannot narrow leaf row groups — but
      // the invariant is enforced here, not assumed.
      case Some(t) if inexactFilters.isEmpty &&
          !pairs.exists(_._1
            .asInstanceOf[GraftOrcPartition].groupRange.isDefined) =>
        val isStr = fullSchema.fields.find(_.name == t.col)
          .exists(_.dataType == StringType)
        val keepOpt =
          if (isStr)
            GraftParquet.topNKeepStr(t,
              pairs.map { case (_, (rows, nulls, _, s)) =>
                (rows, nulls, s) })
          else
            GraftParquet.topNKeepLong(t,
              pairs.map { case (_, (rows, nulls, l, _)) =>
                (rows, nulls, l) })
        keepOpt match {
          case Some(keep) => pairs.map(_._1).zip(keep)
            .collect { case (p, true) => p }.toArray
          case None => pairs.map(_._1).toArray
        }
      case _ => pairs.map(_._1).toArray
    }
  }

  /** False only when the stripe's stats PROVE the filter matches no
    * row — absent stats keep the stripe.
    */
  private def survives(stats: Seq[OrcColStat],
      idByName: Map[String, Int], f: Filter): Boolean =
    survivesStat(name =>
      idByName.get(name).flatMap(stats.lift), f)

  /** The disjointness test over one [[OrcColStat]] lookup: numeric
    * filters compare ulp-widened double bounds (integer stats widened
    * to double can round at 2^53 — a rounded bound must stay
    * conservative, see Maintenance.footerRanges), string filters
    * compare UTF-8 bytes unsigned-lexicographically (= post-HIVE-8732
    * ORC code-point stats order = Spark's string order, so the proofs
    * transfer — pre-fence files have their string bounds stripped at
    * parse, so rangeS never sees a UTF-16-ordered extreme),
    * IsNull/IsNotNull read hasNull/numberOfValues, In is a
    * disjunction, StringStartsWith prunes when the range sorts wholly
    * below the prefix or at/above its tight upper fence.
    */
  private def survivesStat(stat: String => Option[OrcColStat],
      f: Filter): Boolean = {
    def rangeN(c: String): Option[(Double, Double)] =
      stat(c).flatMap(st => st.min.zip(st.max)).map {
        case (mn, mx) => (Math.nextDown(mn), Math.nextUp(mx))
      }
    def rangeS(c: String): Option[(String, String)] =
      stat(c).flatMap(st => st.minS.zip(st.maxS))
    def b(v: String): Array[Byte] =
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def cmp(x: String, y: String): Int =
      java.util.Arrays.compareUnsigned(b(x), b(y))
    f match {
      case EqualTo(c, v: Number) => rangeN(c).forall { case (mn, mx) =>
        v.doubleValue >= mn && v.doubleValue <= mx }
      case EqualTo(c, v: String) => rangeS(c).forall { case (mn, mx) =>
        cmp(v, mn) >= 0 && cmp(v, mx) <= 0 }
      case EqualNullSafe(c, null) => // <=> null: matches only nulls
        stat(c).forall(_.hasNull.getOrElse(true))
      case EqualNullSafe(c, v) =>
        survivesStat(stat, EqualTo(c, v))
      case GreaterThan(c, v: Number) =>
        rangeN(c).forall(_._2 > v.doubleValue)
      case GreaterThan(c, v: String) =>
        rangeS(c).forall(r => cmp(r._2, v) > 0)
      case GreaterThanOrEqual(c, v: Number) =>
        rangeN(c).forall(_._2 >= v.doubleValue)
      case GreaterThanOrEqual(c, v: String) =>
        rangeS(c).forall(r => cmp(r._2, v) >= 0)
      case LessThan(c, v: Number) =>
        rangeN(c).forall(_._1 < v.doubleValue)
      case LessThan(c, v: String) =>
        rangeS(c).forall(r => cmp(r._1, v) < 0)
      case LessThanOrEqual(c, v: Number) =>
        rangeN(c).forall(_._1 <= v.doubleValue)
      case LessThanOrEqual(c, v: String) =>
        rangeS(c).forall(r => cmp(r._1, v) <= 0)
      case IsNull(c) => // prune only when hasNull is EXPLICITLY false
        stat(c).forall(_.hasNull.getOrElse(true))
      case IsNotNull(c) => // prune only an all-null container
        stat(c).forall(_.nonNull.forall(_ > 0))
      case In(c, vs) =>
        // SQL IN: null members match no row; an all-null/empty member
        // list matches nothing anywhere
        val live = vs.filter(_ != null)
        live.nonEmpty && live.exists(v =>
          survivesStat(stat, EqualTo(c, v)))
      case StringStartsWith(c, p) => rangeS(c).forall {
        case (mn, mx) =>
          val pb = b(p)
          val upper = { // tight fence above every p-prefixed string
            var i = pb.length - 1
            while (i >= 0 && pb(i) == -1) i -= 1
            if (i < 0) None
            else {
              val u = java.util.Arrays.copyOf(pb, i + 1)
              u(i) = (u(i) + 1).toByte
              Some(u)
            }
          }
          java.util.Arrays.compareUnsigned(b(mx), pb) >= 0 &&
            upper.forall(u =>
              java.util.Arrays.compareUnsigned(b(mn), u) < 0)
      }
      case _ => true // unknown forms: never disjoint by construction
    }
  }

  /** The 64-bit hash ORC blooms filed this value under: Murmur3-64
    * (orc-core shape, seed 104729) of the UTF-8 bytes for strings,
    * Thomas Wang's mix of the long value for the integer family;
    * anything else never bloom-prunes.
    */
  private def orcHashOf(kind: Int, v: Any): Option[Long] = kind match {
    case 7 => v match { // STRING
      case s: String => Some(OrcData.orcMurmur64(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
    case 1 | 2 | 3 | 4 => v match { // BYTE/SHORT/INT/LONG
      case n: java.lang.Long => Some(OrcData.orcLongHash(n.longValue))
      case n: java.lang.Integer => Some(OrcData.orcLongHash(n.longValue))
      case n: java.lang.Short => Some(OrcData.orcLongHash(n.longValue))
      case n: java.lang.Byte => Some(OrcData.orcLongHash(n.longValue))
      case _ => None
    }
    case _ => None
  }

  private def colsOf(f: Filter): Seq[String] = f match {
    case EqualTo(c, _) => Seq(c)
    case EqualNullSafe(c, _) => Seq(c)
    case GreaterThan(c, _) => Seq(c)
    case GreaterThanOrEqual(c, _) => Seq(c)
    case LessThan(c, _) => Seq(c)
    case LessThanOrEqual(c, _) => Seq(c)
    case IsNull(c) => Seq(c)
    case In(c, _) => Seq(c)
    case StringStartsWith(c, _) => Seq(c)
    case _ => Nil // IsNotNull alone rarely prunes a group
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftOrcReaderFactory(required)
}

private[sources] class GraftOrcReaderFactory(required: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftOrcReader(partition.asInstanceOf[GraftOrcPartition],
      required)
}

/** Decodes one stripe: a positional read of exactly the stripe's byte
  * range (index + data + stripe footer), rows via
  * [[OrcData.readStripeRows]] with `base = stripe.offset`, values
  * adapted to Spark's internal representations (UTF8String; DateType's
  * day int is already the physical value).
  */
private[sources] class GraftOrcReader(p: GraftOrcPartition,
    required: StructType) extends PartitionReader[InternalRow] {

  private val rows: Iterator[Array[Any]] = {
    val span = p.stripe.indexLength + p.stripe.dataLength +
      p.stripe.footerLength
    require(span <= Int.MaxValue,
      s"graftorc: $span-byte stripe exceeds buffer limits")
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(p.path),
      java.nio.file.StandardOpenOption.READ)
    val buf = try {
      val bb = java.nio.ByteBuffer.allocate(span.toInt)
      var pos = p.stripe.offset
      while (bb.hasRemaining) {
        val r = ch.read(bb, pos)
        require(r > 0, "torn ORC: short stripe read")
        pos += r
      }
      bb.array()
    } finally ch.close()
    p.groupRange match {
      case Some((g0, g1)) =>
        OrcData.readStripeRowsRange(buf, p.stripe.offset, p.stripe,
          p.compression, p.blockSize, p.types, p.colIds, p.stride,
          g0, math.min(g1.toLong,
            (p.stripe.rows + p.stride - 1) / p.stride).toInt)
      case None =>
        OrcData.readStripeRows(buf, p.stripe.offset, p.stripe,
          p.compression, p.blockSize, p.types, p.colIds)
    }
  }

  private def adaptOf(dt: DataType): Any => Any = dt match {
    case StringType =>
      v => if (v == null) null
        else UTF8String.fromString(v.asInstanceOf[String])
    case d: DecimalType =>
      v => if (v == null) null
        else Decimal(BigDecimal(v.asInstanceOf[java.math.BigDecimal]),
          d.precision, d.scale)
    case ArrayType(et, _) =>
      val ad = adaptOf(et)
      v => if (v == null) null
        else new org.apache.spark.sql.catalyst.util.GenericArrayData(
          v.asInstanceOf[Seq[Any]].map(ad).toArray)
    case MapType(kt, vt, _) =>
      val kad = adaptOf(kt)
      val vad = adaptOf(vt)
      v => if (v == null) null
        else {
          val kvs = v.asInstanceOf[Seq[(Any, Any)]]
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              kvs.map(p => kad(p._1)).toArray),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              kvs.map(p => vad(p._2)).toArray))
        }
    case st: StructType =>
      val ads = st.fields.map(f => adaptOf(f.dataType))
      v => if (v == null) null
        else {
          val fs = v.asInstanceOf[Seq[Any]]
          InternalRow.fromSeq(fs.lazyZip(ads).map((x, ad) => ad(x)))
        }
    case _ => identity // TimestampType micros / BinaryType bytes
  }

  // hive partition fields splice in as constants (parsed once from
  // the file's dir values); data fields take the decoded columns in
  // order — the decode yielded exactly the non-partition fields
  private val partConst: Map[String, Any] = p.partSpec.map {
    case (n, dt, raw) => n -> GraftParquet.partitionValue(dt, raw)
  }.toMap

  private val adapt: Array[Any => Any] =
    required.fields.map[Any => Any](f => adaptOf(f.dataType))

  private val dataIdx: Array[Int] = {
    var next = 0
    required.fields.map { f =>
      if (partConst.contains(f.name)) -1
      else { val i = next; next += 1; i }
    }
  }

  private var cur: Array[Any] = _

  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false

  override def get(): InternalRow =
    InternalRow.fromSeq(required.fields.indices.map { c =>
      val di = dataIdx(c)
      if (di < 0) partConst(required.fields(c).name)
      else adapt(c)(cur(di))
    })

  override def close(): Unit = ()
}
