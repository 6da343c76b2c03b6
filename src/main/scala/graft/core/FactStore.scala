package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Append-only EAV fact log, the Spark-native equivalent of unifyDB's
  * fact store (reference: /root/reference/src/unifydb/facts.clj — a fact
  * is `[entity attribute value tx-id added?]`).
  *
  * Values live in typed columns (`vstr`/`vlong`/`vdbl`/`vts`/`vref`)
  * instead of the reference's dynamically-typed EDN values, so every
  * downstream pattern scan stays inside whole-stage codegen and parquet
  * predicate pushdown. `vref` holds entity-id references (the graph
  * edges). At cluster scale the log is written
  * `partitionBy("a")` + bucketed by `e`, so an attribute-constant
  * pattern prunes to one partition and entity-joins co-locate.
  *
  * Version resolution (reference `process-facts`,
  * /root/reference/src/unifydb/query.clj:179-204): a fact (e,a,v) is
  * live as of tx T iff the newest op on (e,a,v) with tx <= T is an
  * assertion (retraction wins a same-tx tie, mirroring
  * `cmp-fact-versions` sorting retractions first). For cardinality-one
  * attributes the newest live value wins. NOTE the reference's take-1
  * orders by (value, tx) — a quirk of sorting whole fact tuples — we
  * deliberately use (tx) alone, the intended "latest wins" semantics
  * (identical whenever updates retract the old value first, as the
  * reference's own transactor idiom does).
  */
object FactStore {
  /** Canonical fact-log schema. */
  val factSchema: StructType = StructType(Seq(
    StructField("e", LongType, nullable = false),
    StructField("a", StringType, nullable = false),
    StructField("vtype", StringType, nullable = false), // s|l|d|t|r
    StructField("vstr", StringType, nullable = true),
    StructField("vlong", LongType, nullable = true),
    StructField("vdbl", DoubleType, nullable = true),
    StructField("vts", TimestampType, nullable = true),
    StructField("vref", LongType, nullable = true),
    StructField("tx", LongType, nullable = false),
    StructField("added", BooleanType, nullable = false)
  ))

  /** The value slots in `factSchema` order, each with its `vtype` tag. */
  val Slots: Seq[(String, String)] =
    Seq("vstr" -> "s", "vlong" -> "l", "vdbl" -> "d", "vts" -> "t", "vref" -> "r")

  /** Value slot an attribute's values live in, by ingested Spark type. */
  def slotFor(dt: DataType): (String, String) = {
    val slot = dt match {
      case StringType => "vstr"
      case LongType | IntegerType | ShortType | ByteType | BooleanType => "vlong"
      case DoubleType | FloatType | _: DecimalType => "vdbl"
      case TimestampType | TimestampNTZType | DateType => "vts"
      case other => throw new IllegalArgumentException(s"unsupported fact value type $other")
    }
    slot -> Tag(slot)
  }

  private val Tag: Map[String, String] = Slots.toMap

  /** `df` projected to fact rows, the one place their layout is
    * written: `factSchema` order, `value` cast into `slot`, every other
    * value slot null and `vtype` the slot's tag. */
  def facts(df: DataFrame, e: Column, a: String, slot: String, value: Column,
            tx: Column, added: Column = lit(true)): DataFrame =
    df.select(Seq(e.as("e"), lit(a).as("a"), lit(Tag(slot)).as("vtype")) ++
      Slots.map { case (s, _) =>
        (if (s == slot) value else lit(null)).cast(factSchema(s).dataType).as(s)
      } ++ Seq(tx.as("tx"), added.as("added")): _*)

  /** The driver-side twin of [[facts]]: one fact as a `factSchema` row. */
  def factRow(e: Long, a: String, slot: String, value: Any, tx: Long, added: Boolean): Row =
    Row.fromSeq(Seq(e, a, Tag(slot)) ++
      Slots.map { case (s, _) => if (s == slot) value else null } ++ Seq(tx, added))

  /** Melt a relational table into facts: one entity per row (id =
    * `idExpr` + `base`), one fact per non-null column value. Every
    * column becomes a value attribute; additionally each entry of
    * `refCols` (column -> referenced table's base) emits a `<col>_ref`
    * attribute whose `vref` is the referenced ENTITY id — the graph
    * edges. This is the bulk-ingest path the reference lacks (its
    * transactor is one-message-at-a-time; ours is one distributed scan).
    */
  def melt(df: DataFrame, idExpr: Column, base: Long, tx: Long,
           refCols: Map[String, Long] = Map.empty): DataFrame = {
    val e = idExpr.cast(LongType) + lit(base)
    // Columns named "__*" are ingest plumbing (e.g. a synthetic row id),
    // not attributes.
    val valuePieces = df.schema.fields.toSeq.filterNot(_.name.startsWith("__")).map { f =>
      val slot = slotFor(f.dataType)._1
      facts(df, e, f.name, slot, col(f.name), lit(tx)).filter(col(slot).isNotNull)
    }
    val refPieces = refCols.toSeq.map { case (c, refBase) =>
      facts(df, e, c + "_ref", "vref", col(c).cast(LongType) + lit(refBase), lit(tx))
        .filter(col("vref").isNotNull)
    }
    (valuePieces ++ refPieces).reduce(_.unionAll(_))
  }

  /** Attribute -> value-slot map for a melted table. */
  def attrTypes(df: DataFrame, refCols: Set[String] = Set.empty): Map[String, String] =
    df.schema.fields.filterNot(_.name.startsWith("__"))
      .map(f => f.name -> slotFor(f.dataType)._1).toMap ++
      refCols.map(c => (c + "_ref") -> "vref").toMap

  /** Melt a Seq-valued column into ORDERED element sub-entity facts —
    * the ingest path for schema-free / ragged list values, which the
    * reference stores inside ONE fact as an EDN collection
    * (unify.clj:66-81). graft's typed-column encoding instead emits,
    * per element: a cardinality-many ref fact `parent --attr--> elem`
    * plus `<attr>/idx` (position) and `<attr>/val` (the element) on the
    * elem sub-entity — no hand-written per-position fields, any list
    * length. Query back positionally with
    * [[graft.datalog.IndexedRestPattern]].
    *
    * NESTED lists recurse: an `array<array<T>>` column melts each inner
    * list under the element's `<attr>/val` attribute as its own
    * sub-entity chain (`elem --attr/val--> subelem` with
    * `<attr>/val/idx` + `<attr>/val/val`), any depth — the reference's
    * list-of-lists EDN values, re-expressed as chained typed facts.
    *
    * Id scheme: level-k element ids are `elemBase + k*levelSpan +
    * composite` where composite chains positions in base `stride`
    * (`composite_k = composite_{k-1}*stride + idx`). Deterministic and
    * collision-free across levels; both `idx < stride` and
    * `composite < levelSpan` are guarded per row (codegen'd
    * raise_error), so id-space exhaustion fails loudly, never silently
    * collides. Budget: bits(rawId) + depth·log2(stride) must stay
    * under log2(levelSpan). One distributed pass per level
    * (posexplode), no shuffle. Combine with [[listAttrTypes]] and mark
    * every ref attribute it maps to "vref" cardinality-many in the
    * enclosing FactDb. */
  def meltList(df: DataFrame, idExpr: Column, parentBase: Long, attr: String,
               listCol: String, elemBase: Long, tx: Long = 1L,
               stride: Long = 1L << 20, levelSpan: Long = 1L << 58): DataFrame = {
    df.schema(listCol).dataType match {
      case ArrayType(_, _) => ()
      case other => throw new IllegalArgumentException(
        s"$listCol is $other — meltList needs an array column")
    }
    val elemType = df.schema(listCol).dataType.asInstanceOf[ArrayType].elementType
    def depthOf(dt: DataType): Int = dt match {
      case ArrayType(inner, _) => 1 + depthOf(inner)
      case _ => 0
    }
    val depth = depthOf(df.schema(listCol).dataType)
    require(stride > 0, s"meltList($attr): stride must be positive, got $stride")
    require(levelSpan > stride,
      s"meltList($attr): levelSpan=$levelSpan must exceed stride=$stride " +
        "(a level must hold at least one full position radix)")
    require(elemBase >= 0, s"meltList($attr): elemBase must be >= 0, got $elemBase")
    // division, not multiplication: depth * levelSpan itself wraps Long
    // for deep-enough nesting and would let the guard pass silently
    require(depth == 0 || levelSpan <= (Long.MaxValue - elemBase) / depth,
      s"meltList($attr): elemBase + depth*levelSpan overflows Long " +
        s"(elemBase=$elemBase, depth=$depth, levelSpan=$levelSpan)")
    val rawId = idExpr.cast(LongType)
    meltListLevel(
      df.select((rawId + lit(parentBase)).as("__pid"), rawId.as("__comp"),
        col(listCol).as("__list")),
      elemType, attr, elemBase, tx, stride, levelSpan, level = 0)
  }

  /** One nesting level of [[meltList]]: `__pid` = ABSOLUTE parent
    * entity id, `__comp` = the position-composite the parent was
    * derived from (the raw id at level 0), `__list` the list value. */
  private def meltListLevel(level0: DataFrame, elemType: DataType, attr: String,
                            elemBase: Long, tx: Long, stride: Long,
                            levelSpan: Long, level: Int): DataFrame = {
    val exploded = level0
      .select(col("__pid"), col("__comp"),
        posexplode(col("__list")).as(Seq("__idx", "__v")))
      .select(col("__pid"),
        when(col("__idx") < stride, col("__idx").cast(LongType))
          .otherwise(raise_error(concat(
            lit(s"meltList($attr): list longer than stride=$stride under parent "),
            col("__pid").cast(StringType)))).as("__idx"),
        col("__comp"), col("__v"))
      // Range-check the INPUT composite BEFORE multiplying: checking
      // the product would let `comp * stride` overflow Long and wrap
      // below levelSpan — a huge raw id (hash/snowflake-derived) would
      // then pass the guard with a corrupted, possibly colliding id.
      // comp in [0, levelSpan/stride) ⟹ comp*stride + idx < levelSpan
      // with no intermediate overflow (levelSpan ≤ 2^58 << Long.Max).
      // DEPTH-1 flat lists (level 0, scalar elements) never allocate a
      // deeper level, so the level partition is unnecessary — they get
      // the wider meltStructList-style overflow-only bound
      // ((Long.Max−elemBase)/stride), keeping the two flat ingest
      // paths' accepted id ranges consistent (snowflake ids ~2^41 fit).
      .withColumn("__comp", {
        val compBound =
          if (level == 0 && !elemType.isInstanceOf[ArrayType])
            (Long.MaxValue - elemBase) / stride
          else levelSpan / stride
        when(col("__comp") >= 0 && col("__comp") < lit(compBound),
          col("__comp") * lit(stride) + col("__idx"))
          .otherwise(raise_error(concat(
            lit(s"meltList($attr): id space exhausted (levelSpan=$levelSpan, " +
              s"stride=$stride — raw/composite id must be in [0, " +
              s"$compBound); widen via the levelSpan/stride knobs) under parent "),
            col("__pid").cast(StringType))))
      })
    val elemId = lit(elemBase + level * levelSpan) + col("__comp")
    val refs = facts(exploded, col("__pid"), attr, "vref", elemId, lit(tx))
    val idxs = facts(exploded, elemId, s"$attr/idx", "vlong", col("__idx"), lit(tx))
    val vals = elemType match {
      case ArrayType(inner, _) =>
        // nested list: the element's VALUE is itself a list — recurse
        // with the element as parent under the <attr>/val attribute
        meltListLevel(
          exploded.select(elemId.as("__pid"), col("__comp"), col("__v").as("__list")),
          inner, s"$attr/val", elemBase, tx, stride, levelSpan, level + 1)
      case scalar =>
        facts(exploded, elemId, s"$attr/val", slotFor(scalar)._1, col("__v"), lit(tx))
    }
    Seq(refs, idxs, vals).reduce(_.unionAll(_))
  }

  /** Melt an `array<struct>` column into ORDERED sub-entity facts —
    * the ingest path for LISTS OF MAPS, the remaining EDN collection
    * shape (a map value inside a list, unify.clj:66-81; the
    * transactor's MapForm-in-Seq covers the tx path, this covers bulk
    * ingest). Per element: a cardinality-many ref fact
    * `parent --attr--> elem`, `<attr>/idx` (position), and one
    * `<attr>/<field>` fact per non-null struct field on the elem
    * sub-entity. Same id scheme and guards as [[meltList]] level 0. */
  def meltStructList(df: DataFrame, idExpr: Column, parentBase: Long, attr: String,
                     listCol: String, elemBase: Long, tx: Long = 1L,
                     stride: Long = 1L << 20): DataFrame = {
    val st = df.schema(listCol).dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"$listCol is $other — meltStructList needs an array<struct> column")
    }
    require(stride > 0 && elemBase >= 0, s"meltStructList($attr): bad id layout")
    // raw ids above this would overflow elemBase + rawid*stride + idx —
    // checked on the RAW id before multiplying (a product check would
    // wrap first and pass silently with a corrupted id)
    val maxRawId = (Long.MaxValue - elemBase) / stride - 1
    val exploded = df
      .select(idExpr.cast(LongType).as("__rawid"),
        posexplode(col(listCol)).as(Seq("__idx", "__v")))
      .select(
        when(col("__rawid") >= 0 && col("__rawid") <= maxRawId, col("__rawid"))
          .otherwise(raise_error(concat(
            lit(s"meltStructList($attr): raw id outside [0, $maxRawId] " +
              "(id-space overflow): "),
            col("__rawid").cast(StringType)))).as("__rawid"),
        when(col("__idx") < stride, col("__idx").cast(LongType))
          .otherwise(raise_error(concat(
            lit(s"meltStructList($attr): list longer than stride=$stride on id "),
            col("__rawid").cast(StringType)))).as("__idx"),
        col("__v"))
    val elemId = lit(elemBase) + col("__rawid") * lit(stride) + col("__idx")
    val refs = facts(exploded, col("__rawid") + lit(parentBase), attr, "vref", elemId, lit(tx))
    val idxs = facts(exploded, elemId, s"$attr/idx", "vlong", col("__idx"), lit(tx))
    val fieldFacts = st.fields.toSeq.map { f =>
      facts(exploded.filter(col("__v").getField(f.name).isNotNull), elemId,
        s"$attr/${f.name}", slotFor(f.dataType)._1, col("__v").getField(f.name), lit(tx))
    }
    (Seq(refs, idxs) ++ fieldFacts).reduce(_.unionAll(_))
  }

  /** Attribute -> value-slot map for a [[meltStructList]]-encoded
    * attribute (pair with `cardMany += attr`). */
  def structListAttrTypes(df: DataFrame, attr: String,
                          listCol: String): Map[String, String] = {
    val st = df.schema(listCol).dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"$listCol is $other — meltStructList needs an array<struct> column")
    }
    Map(attr -> "vref", s"$attr/idx" -> "vlong") ++
      st.fields.map(f => s"$attr/${f.name}" -> slotFor(f.dataType)._1)
  }

  /** Attribute -> value-slot map for a [[meltList]]-encoded list
    * attribute, nested levels included (pair with `cardMany` over every
    * "vref"-typed attribute in the result). */
  def listAttrTypes(df: DataFrame, attr: String, listCol: String): Map[String, String] = {
    def walk(attr: String, dt: DataType): Map[String, String] = dt match {
      case ArrayType(inner, _) =>
        Map(attr -> "vref", s"$attr/idx" -> "vlong") ++ walk(s"$attr/val", inner)
      case scalar => Map(attr -> slotFor(scalar)._1)
    }
    df.schema(listCol).dataType match {
      case at: ArrayType => walk(attr, at)
      case other => throw new IllegalArgumentException(
        s"$listCol is $other — meltList needs an array column")
    }
  }
}

/** A fact database: the raw log plus attribute metadata.
  *
  * @param log        the append-only fact DataFrame (FactStore.factSchema)
  * @param attrTypes  attribute -> value slot ("vstr"|"vlong"|"vdbl"|"vts"|"vref")
  * @param cardMany   attributes with :cardinality/many semantics
  *                   (reference schema facts, /root/reference/src/unifydb/schema.clj)
  * @param delta      set by a transactor session on the database values
  *                   it publishes: its delta, resolvable on the driver
  *                   (see [[snapshot]])
  */
case class FactDb(log: DataFrame, attrTypes: Map[String, String],
                  cardMany: Set[String] = Set.empty,
                  versioned: Boolean = true,
                  delta: Option[DriverDelta] = None) {

  def union(other: FactDb): FactDb =
    FactDb(log.unionAll(other.log), attrTypes ++ other.attrTypes,
      cardMany ++ other.cardMany, versioned || other.versioned)

  /** All fact versions visible as of `asOfTx` (no resolution) — the
    * reference's `:historical true` mode (query_test.clj:284). */
  def historical(asOfTx: Long = Long.MaxValue): DataFrame =
    if (asOfTx == Long.MaxValue) log else log.filter(col("tx") <= asOfTx)

  /** Resolved live facts as of `asOfTx`.
    *
    * An unversioned db is its bounded log. Otherwise two windows
    * resolve the log, each keyed by (e,a) so that Spark plans a single
    * exchange: the per-value liveness window and the cardinality-one
    * pick. A database value published by a transactor session skips
    * both for its delta: the session resolved the delta on the driver
    * under the same rules (`DriverDelta`, `Versions.live`), so the
    * snapshot is the base, resolved under its own `versioned` flag (an
    * unversioned base stays a scan), unioned with one leaf of live
    * delta facts, both under this db's cardinality-many set. The windows
    * still cover the whole log when `delta` is None (a db not built by
    * a session, a `union`, a `copy` onto another log) and for reads as
    * of or after the first tx whose delta wrote a base entity. */
  def snapshot(asOfTx: Long = Long.MaxValue): DataFrame = {
    // Single-tx append-only ingests (the bulk-loaded base tables) need no
    // version resolution — skip both windows so pattern scans stay a pure
    // scan+filter (this is the 100 TB fast path: immutable fact
    // partitions resolve to themselves).
    if (!versioned) return historical(asOfTx)
    delta.filter(_.log eq log).flatMap(d => d.resolved(asOfTx, cardMany).map(d -> _)) match {
      case Some((d, resolvedDelta)) =>
        copy(log = d.base, versioned = d.baseVersioned, delta = None).snapshot(asOfTx)
          .unionAll(resolvedDelta)
      case None =>
        val perValue = Window.partitionBy(col("e"), col("a"), col("vtype"),
            col("vstr"), col("vlong"), col("vdbl"), col("vts"), col("vref"))
          .orderBy(col("tx").desc, col("added").asc) // retraction wins same-tx tie
        val live = historical(asOfTx)
          .withColumn("__rn", row_number().over(perValue))
          .filter(col("__rn") === 1 && col("added"))
          .drop("__rn")
        val manyAttrs = cardMany
        if (manyAttrs.isEmpty) resolveCardOne(live, col("a").isNotNull)
        else {
          val isOne = !col("a").isin(manyAttrs.toSeq: _*)
          resolveCardOne(live, isOne)
        }
    }
  }

  /** Among live facts, keep only the newest value per (e,a) for
    * cardinality-one attributes. Value columns are deterministic
    * tie-breakers after tx: two different values asserted in the SAME
    * tx would otherwise pick a run-dependent winner (the reference's
    * whole-tuple sort, query.clj:132-150, is deterministic too — see
    * the header note on the tx-vs-value order divergence). */
  private def resolveCardOne(live: DataFrame, isOne: Column): DataFrame = {
    val perAttr = Window.partitionBy(col("e"), col("a")).orderBy(
      col("tx").desc, col("vstr").desc_nulls_last, col("vlong").desc_nulls_last,
      col("vdbl").desc_nulls_last, col("vts").desc_nulls_last,
      col("vref").desc_nulls_last)
    live.withColumn("__rn", row_number().over(perAttr))
      .filter(!isOne || col("__rn") === 1)
      .drop("__rn")
  }

  /** Point lookup: all live (attribute, value) pairs of ONE entity —
    * the reference's EAVT B-tree point read
    * (/root/reference/src/unifydb/storage/btree.clj). The e-filter sits
    * under the version-resolution windows (e is a partition key of
    * both, so Catalyst pushes it to the scan), and on the
    * partitionBy("a") + bucketBy(e) cluster layout Spark additionally
    * prunes every attribute directory to the single bucket file that
    * can hold the entity (SelectedBucketsCount 1/N, plan-pinned) — the
    * closest a Spark job gets to an OLTP point read. Requires
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`
    * (set by `graft.SparkEntry.localSession`): the auto-conversion rule sees
    * no distribution-needing parent and would flatten the scan,
    * silently losing the prune. The remaining gap
    * to the reference's ms-latency B-tree read is the job-submission
    * floor itself (documented in README §limits). Values render into
    * one string column so the heterogeneous entity comes back in a
    * single shape. */
  def entity(eid: Long, asOfTx: Long = Long.MaxValue): DataFrame =
    snapshot(asOfTx).filter(col("e") === eid)
      .select(col("a"), col("vtype"),
        when(col("vtype") === "s", col("vstr"))
          .when(col("vtype") === "l", col("vlong").cast("string"))
          .when(col("vtype") === "d", col("vdbl").cast("string"))
          .when(col("vtype") === "t", col("vts").cast("string"))
          .otherwise(col("vref").cast("string")).as("v"))

  /** Value column name for a known attribute. */
  def slot(attr: String): String =
    attrTypes.getOrElse(attr,
      throw new IllegalArgumentException(s"unknown attribute $attr"))
}
