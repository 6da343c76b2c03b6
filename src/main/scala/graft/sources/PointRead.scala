package graft.sources

import graft.core.{FactDb, FactStore, Versions}
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** OLTP-latency point reads over the bucketed fact-log catalog layout —
  * the driver-side answer to the reference's ms-latency EAVT B-tree
  * read (/root/reference/src/unifydb/storage/btree.clj).
  *
  * [[FactDb.entity]] already prunes the SCAN to one bucket file
  * (SelectedBucketsCount 1/N, plan-pinned), but still pays the Spark
  * job-submission floor (~0.2-0.4 s) — three orders of magnitude above
  * the file's actual read cost. This path removes the job entirely:
  * resolve the entity's single bucket file per attribute directory from
  * the catalog metadata, read it on the DRIVER through parquet-mr with
  * an `e = eid` predicate (row-group stats + dictionary + page filtering
  * apply — the layout sorts by `e`, so the reader seeks straight to the
  * entity's pages), and resolve the handful of surviving facts in
  * memory. No executor, no scheduler, no shuffle: milliseconds warm.
  *
  * Semantics are EXACTLY [[FactDb.entity]] (parity spec-pinned) and
  * nothing here restates them: the facts become `factSchema` catalyst
  * rows, `Versions.snapshot` resolves them under the rule
  * `FactDb.snapshot` follows (graft's one in-memory version resolver),
  * and each value renders through the `Cast(_, StringType)` that
  * `entity` plans, under the session time zone. Scale shape: reads ONE
  * bucket file per attribute dir — O(facts of one entity) work,
  * independent of corpus size; at 100 TB this is the difference between
  * an interactive entity inspector and a batch job per click. */
object PointRead {

  /** Table layout resolved ONCE per (session, table): bucket count,
    * per-bucket file lists, a reusable Hadoop conf. The catalog lookup,
    * conf copy and directory walk cost tens of ms each — the difference
    * between a ~75 ms and a sub-50 ms warm read. A table re-written
    * in-session must call [[invalidate]] (Catalog.recreate does not
    * know about this cache). */
  private case class Layout(numBuckets: Int,
                            byBucket: Map[Int, Seq[(Path, Option[String])]],
                            conf: org.apache.hadoop.conf.Configuration)
  private val layoutCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Layout]

  def invalidate(spark: SparkSession, table: String): Unit =
    layoutCache.remove((spark, table)): Unit

  private def layout(spark: SparkSession, table: String): Layout =
    layoutCache.getOrElseUpdate((spark, table), {
      val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      val numBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalArgumentException(s"$table is not a bucketed table"))
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(meta.location)
      val fs = root.getFileSystem(conf)
      // bucket files carry their id as the `_NNNNN` filename component;
      // empty buckets simply have no file — an absent file is an empty
      // result, not an error
      val bucketRe = "_(\\d{5})\\.".r
      val files = ArrayBuffer.empty[(Int, Path, Option[String])]
      def walk(dir: Path, attr: Option[String]): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (st.isDirectory) {
            // partition values are path-ESCAPED by the writer (%2F for
            // the '/' every melted attribute contains, %20 for spaces…)
            // — unescape or the rendered attribute names diverge from
            // entity() on exactly the attr-partitioned layouts
            if (name.startsWith("a="))
              walk(st.getPath, Some(
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(name.stripPrefix("a="))))
            else if (!name.startsWith("_") && !name.startsWith("."))
              walk(st.getPath, attr)
          } else if (name.endsWith(".parquet"))
            bucketRe.findFirstMatchIn(name).foreach(m =>
              files += ((m.group(1).toInt, st.getPath, attr)))
        }
      walk(root, None)
      Layout(numBuckets,
        files.toSeq.groupBy(_._1).view.mapValues(_.map(f => (f._2, f._3)).toSeq)
          .toMap.withDefaultValue(Seq.empty),
        conf)
    })

  /** All live (attribute, value) pairs of one entity, rendered like
    * [[FactDb.entity]], served without launching a Spark job. `table`
    * must be a catalog table written by [[FactLogIO.writeBucketedTable]]
    * (bucketBy(e), optionally partitionBy(a)); `db` supplies the
    * version-resolution metadata (cardMany, versioned). */
  def entityDirect(spark: SparkSession, table: String, db: FactDb, eid: Long,
                   asOfTx: Long = Long.MaxValue): Seq[(String, String, String)] = {
    val lay = layout(spark, table)
    val bucket = bucketId(eid, lay.numBuckets)
    val conf = lay.conf
    val files = lay.byBucket(bucket)

    val facts = ArrayBuffer.empty[InternalRow]
    val filter = FilterCompat.get(
      FilterApi.eq(FilterApi.longColumn("e"), java.lang.Long.valueOf(eid)))
    files.foreach { case (file, attrFromDir) =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), file)
        .withConf(conf).withFilter(filter).build()
      try {
        var g = reader.read()
        while (g != null) {
          // predicate filtering is row-group/page granular — re-check e
          if (g.getLong("e", 0) == eid) {
            def has(f: String) =
              g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
            def str(f: String) = if (has(f)) UTF8String.fromString(g.getString(f, 0)) else null
            def lng(f: String): Any = if (has(f)) g.getLong(f, 0) else null
            facts += new GenericInternalRow(Array[Any](eid,
              attrFromDir.map(UTF8String.fromString).getOrElse(str("a")), str("vtype"),
              str("vstr"), lng("vlong"), if (has("vdbl")) g.getDouble("vdbl", 0) else null,
              tsMicros(g), lng("vref"), g.getLong("tx", 0), g.getBoolean("added", 0)))
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    // entity()'s value column: the tag's slot cast to a string (an
    // unknown tag reads vref, as entity's `otherwise` does)
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val rendered = FactStore.Slots.map { case (slot, tag) =>
      val i = FactStore.factSchema.fieldIndex(slot)
      tag -> Cast(BoundReference(i, FactStore.factSchema(i).dataType, nullable = true),
        StringType, zone)
    }.toMap
    (Versions.empty ++ facts).snapshot(asOfTx, db.cardMany, db.versioned).map { r =>
      val vtype = r.getUTF8String(2).toString
      (r.getUTF8String(1).toString, vtype,
        Option(rendered.getOrElse(vtype, rendered("r")).eval(r)).map(_.toString).orNull)
    }.toSeq
  }

  /** Spark's bucket function: pmod(Murmur3Hash(e, seed=42), n) —
    * HashPartitioning.partitionIdExpression for a single Long column. */
  def bucketId(eid: Long, numBuckets: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(eid, 42)
    val m = h % numBuckets
    if (m < 0) m + numBuckets else m
  }

  /** vts arrives as INT64 micros or Spark's default INT96
    * (julian day + nanos-of-day) depending on the writer config. */
  private def tsMicros(g: org.apache.parquet.example.data.Group): Any = {
    if (!g.getType.containsField("vts") || g.getFieldRepetitionCount("vts") == 0)
      return null
    g.getType.getType("vts").asPrimitiveType().getPrimitiveTypeName.name() match {
      case "INT96" =>
        val b = g.getInt96("vts", 0).getBytes // little-endian nanos, then julian day
        val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case _ => g.getLong("vts", 0)
    }
  }
}
