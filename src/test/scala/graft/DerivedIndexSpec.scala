package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.table.{DerivedIndex, GraftTable, RecordIndex, SecondaryIndex, Services, SortMode}
import graft.read.Readers

/** The timeline fold both value → file-group indexes share
  * ([[DerivedIndex]]): each protocol case runs on the RECORD index and on
  * a SECONDARY index — foreign-handle catch-up, rewind rebuild, rebuild
  * after a catch-up whose inputs were cleaned, metadata-only commits,
  * bucket sizing. Then the on-disk strings both kinds persist, and the
  * driver-side bucket evaluation against the Spark-evaluated column.
  */
class DerivedIndexSpec extends AnyFunSuite {
  import SparkTestBase._

  /** One index kind: the props that turn it on, the outer key that pins
    * its bucket count, its descriptor, the outer column whose string value
    * it maps, and its public read path.
    */
  private case class Kind(name: String, props: Map[String, String], bucketsKey: String,
      descriptor: GraftTable => DerivedIndex.Descriptor, valueCol: String,
      read: (GraftTable, Seq[String]) => DataFrame)

  private val kinds = Seq(
    Kind("record", Map(ConfigKeys.IndexType -> "RECORD"), ConfigKeys.RecordIndexBuckets,
      RecordIndex.descriptor, "o_orderkey", (t, vs) => t.lookup(vs)),
    Kind("secondary", Map(ConfigKeys.SecondaryIndexColumns -> "o_custkey"),
      ConfigKeys.SecondaryIndexBuckets,
      t => SecondaryIndex.descriptor(t, SecondaryIndex.specOf(t.cfg, "o_custkey").get),
      "o_custkey", (t, vs) => t.lookupBy("o_custkey", vs)))

  private def cfg(k: Kind, extra: Map[String, String] = Map.empty) = TableConfig(
    tableName = s"orders_${k.name}",
    tableType = TableType.CopyOnWrite,
    recordKeyFields = Seq("o_orderkey"),
    partitionPathExpr = "date_format(o_orderdate, 'yyyy')",
    precombineField = "o_orderdate",
    props = k.props ++ extra)

  private def orders = spark.read.parquet(s"$sf001/orders.parquet")

  /** A handle on the same table that does not maintain the index. */
  private def foreign(t: GraftTable): GraftTable =
    new GraftTable(spark, t.basePath, t.cfg.copy(props = t.cfg.props -- Seq(
      ConfigKeys.IndexType, ConfigKeys.SecondaryIndexColumns)))

  private def valuesOf(k: Kind, df: DataFrame): Seq[String] =
    df.select(col(k.valueCol).cast("string")).distinct().collect().map(_.getString(0)).toSeq

  private def inner(k: Kind, t: GraftTable): GraftTable =
    GraftTable.load(spark, k.descriptor(t).path.toString)

  /** The inner table's oldest completed instant: a rebuild recreates the
    * table, so this moves only when the index was rebuilt.
    */
  private def born(k: Kind, t: GraftTable): String =
    inner(k, t).timeline.completedDataInstants().head.ts

  private def applied(k: Kind, t: GraftTable): Option[String] =
    DerivedIndex.lastApplied(inner(k, t), k.descriptor(t))

  private def latest(t: GraftTable): Option[String] =
    t.timeline.completedDataInstants().lastOption.map(_.ts)

  private def sameRows(k: Kind, t: GraftTable, vs: Seq[String]): Unit = {
    val want = Readers.snapshot(t).filter(col(k.valueCol).cast("string").isin(vs: _*))
      .drop(MetaCols.All: _*)
    val got = k.read(t, vs)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
  }

  for (k <- kinds) {
    test(s"${k.name}: a foreign handle's commits are caught up before a read") {
      val t = GraftTable.create(spark, tmpDir(s"di_catchup_${k.name}").toString, cfg(k))
      t.bulkInsert(orders, SortMode.NoSort)
      val b0 = born(k, t)
      val news = orders.limit(50)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_custkey", lit(777777L))
      foreign(t).upsert(news)
      assert(applied(k, t) !== latest(t), "the foreign commit was applied eagerly")
      val vs = valuesOf(k, news)
      assert(k.read(t, vs).count() === 50)
      assert(applied(k, t) === latest(t))
      assert(born(k, t) === b0, "catch-up rebuilt instead of replaying")
    }

    test(s"${k.name}: a rewind recreates the inner table; reads stay exact") {
      val t = GraftTable.create(spark, tmpDir(s"di_rewind_${k.name}").toString, cfg(k))
      t.bulkInsert(orders, SortMode.NoSort)
      val moved = orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumn("o_custkey", lit(424242L))
      val ts = t.upsert(moved)
      val b0 = born(k, t)
      Services.rollback(t, ts)
      val vs = valuesOf(k, moved)
      assert(k.read(t, vs).count() === 0)
      assert(born(k, t) > ts && born(k, t) > b0, "the rewind did not rebuild")
      assert(applied(k, t) === latest(t))
      sameRows(k, t, valuesOf(k, orders.filter(col("o_orderkey") % 13 === 0)))
    }

    test(s"${k.name}: a catch-up whose input files were cleaned rebuilds") {
      val t = GraftTable.create(spark, tmpDir(s"di_cleaned_${k.name}").toString, cfg(k))
      t.bulkInsert(orders, SortMode.NoSort)
      val b0 = born(k, t)
      val f = foreign(t)
      val upd = orders.filter(col("o_orderkey") % 3 === 0)
      val c2 = f.upsert(upd.withColumn("o_totalprice", lit(2.0)))
      f.upsert(upd.withColumn("o_totalprice", lit(3.0)))
      assert(Services.clean(f, retainCommits = 1).isDefined)
      val c2Files = CommitMetadata.fromJson(t.timeline.readContent(
        t.timeline.completedDataInstants().find(_.ts == c2).get)).writeStats.map(_.path)
      assert(c2Files.exists(p => !Storage.exists(new org.apache.hadoop.fs.Path(t.basePath, p))),
        "the clean left every input of the catch-up in place")
      val vs = valuesOf(k, upd.limit(20))
      sameRows(k, t, vs)
      assert(born(k, t) > c2 && born(k, t) > b0, "the failed catch-up did not rebuild")
      assert(applied(k, t) === latest(t))
    }

    test(s"${k.name}: metadata-only commits advance the watermark") {
      val t = GraftTable.create(spark, tmpDir(s"di_metaonly_${k.name}").toString, cfg(k))
      t.bulkInsert(orders, SortMode.NoSort)
      val b0 = born(k, t)
      val part = t.view.partitions(None).head
      val dropped = t.deletePartitions(Seq(part))
      assert(applied(k, t) === Some(dropped))
      val cut = t.truncate()
      assert(applied(k, t) === Some(cut))
      assert(born(k, t) === b0, "a metadata-only commit rebuilt the index")
      assert(k.read(t, valuesOf(k, orders.limit(10))).count() === 0)
    }

    test(s"${k.name}: the bucket count auto-scales; an explicit count wins") {
      // 1500 rows at 50 per bucket: 30 buckets, above the floor of 16
      val perBucket = Map(ConfigKeys.RecordIndexKeysPerBucket -> "50")
      val small = GraftTable.create(spark, tmpDir(s"di_small_${k.name}").toString,
        cfg(k, perBucket))
      small.bulkInsert(orders.limit(100), SortMode.NoSort)
      assert(DerivedIndex.storedBuckets(inner(k, small)) === 16)
      val auto = GraftTable.create(spark, tmpDir(s"di_auto_${k.name}").toString,
        cfg(k, perBucket))
      auto.bulkInsert(orders, SortMode.NoSort)
      assert(DerivedIndex.storedBuckets(inner(k, auto)) ===
        math.ceil(orders.count() / 50.0).toInt)
      sameRows(k, auto, valuesOf(k, orders.limit(7)))
      val fixed = GraftTable.create(spark, tmpDir(s"di_fixed_${k.name}").toString,
        cfg(k, perBucket + (k.bucketsKey -> "4")))
      fixed.bulkInsert(orders, SortMode.NoSort)
      assert(DerivedIndex.storedBuckets(inner(k, fixed)) === 4)
      assert(inner(k, fixed).view.partitions(None).toSet.subsetOf((0 until 4).map(b => s"b=$b").toSet))
      sameRows(k, fixed, valuesOf(k, orders.limit(7)))
    }
  }

  test("the stored strings of both index kinds are unchanged") {
    // an index persisted under these strings must keep syncing: applied
    // keys, inner paths, inner table configs, inner columns
    val want = Seq(
      ("record", ".graft/record_index", "graft.record.index.applied", "record_index",
        Seq("_ri_part", "_ri_key"), "concat('b=', _ri_bucket)", "_ri_ord",
        Seq("_ri_part", "_ri_key", "_ri_bucket", "_ri_fid", "_ri_ord")),
      ("secondary", ".graft/sec_index/o_custkey", "graft.secondary.index.applied",
        "sec_index_o_custkey", Seq("_si_val", "_si_part", "_si_fid"),
        "concat('b=', _si_bucket)", "_si_ord",
        Seq("_si_val", "_si_part", "_si_bucket", "_si_fid", "_si_ord")))
    for ((k, (name, rel, key, table, rk, partExpr, ord, cols)) <- kinds.zip(want)) {
      assert(k.name === name)
      val t = GraftTable.create(spark, tmpDir(s"di_pin_$name").toString,
        cfg(k, Map(k.bucketsKey -> "8")))
      t.bulkInsert(orders.limit(200), SortMode.NoSort)
      val d = k.descriptor(t)
      assert(d.path.toString === s"${t.basePath}/$rel")
      assert(d.appliedKey === key)
      val in = inner(k, t)
      val c = in.cfg
      assert(c.tableName === table)
      assert(c.tableType === TableType.CopyOnWrite)
      assert(c.recordKeyFields === rk)
      assert(c.partitionPathExpr === partExpr)
      assert(c.precombineField === ord)
      assert(c.props("graft.index.type") === "SIMPLE")
      assert(c.props("graft.index.record.buckets") === "8")
      val md = CommitMetadata.fromJson(in.timeline.readContent(
        in.timeline.completedDataInstants().last))
      assert(md.extraMetadata.get(key) === latest(t))
      assert(Readers.snapshot(in).columns.filterNot(MetaCols.All.contains).toSeq === cols)
      assert(in.view.partitions(None).forall(_.startsWith("b=")))
    }
  }

  test("driver-side buckets equal the Spark-evaluated bucket column") {
    import spark.implicits._
    val plain = (0 until 200).map(_.toString)
    val values = Seq("", "é", "ü", "日本語", "Ελληνικά", "😀", "a\u0000b") ++ plain
    val hashes = values.toDF("v").select(xxhash64(col("v"))).collect().map(_.getLong(0))
    assert(hashes.exists(_ < 0) && hashes.exists(_ > 0), "no negative-hash key in the set")
    for (n <- Seq(1, 4, 16, 30, 65536)) {
      val want = values.toDF("v").select(DerivedIndex.bucketOf(col("v"), n))
        .collect().map(_.getInt(0)).toSeq
      assert(DerivedIndex.bucketsOf(spark, values, n) === want, s"n=$n")
    }
  }
}
