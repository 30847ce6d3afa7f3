package graft

import org.apache.spark.sql.functions._

import graft.sources.CatalogSinks

/** Catalog-managed table commits (K1/K2/K3 table-identity forms) and the
  * reference's A-2 positional-insertInto hazard, demonstrated and
  * guarded.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshTable(): String = { n += 1; s"graft_cat_spec_$n" }

  test("saveAsTable(Overwrite) + insertInto append round-trip (K3+K1)") {
    val t = freshTable()
    val b1 = Seq((1L, "a", "202401"), (2L, "b", "202402"))
      .toDF("id", "v", "etl_date")
    CatalogSinks.saveAsTableOverwrite(b1, t, Seq("etl_date"))
    val b2 = Seq((3L, "c", "202402")).toDF("id", "v", "etl_date")
    CatalogSinks.insertIntoAppend(CatalogSinks.alignTo(spark, t, b2), t)
    val back = spark.table(t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, "a", "202401"), (2L, "b", "202402"),
      (3L, "c", "202402")))
    // catalog schema is authoritative: partition column stays STRING
    // (a path read would inference-narrow "202401" to INT)
    assert(spark.table(t).schema("etl_date").dataType.typeName == "string")
  }

  test("A-2 hazard: unaligned insertInto writes values into WRONG columns") {
    val t = freshTable()
    CatalogSinks.saveAsTableOverwrite(
      Seq(("k1", "v1")).toDF("key", "value"), t, Seq.empty)
    // same types, swapped order: silently accepted, positionally resolved
    val scrambled = Seq(("v2", "k2")).toDF("value", "key")
    CatalogSinks.insertIntoAppend(scrambled, t)
    val bad = spark.table(t).where($"key" === "v2").count()
    assert(bad == 1, "positional resolution must land value in key column")
    // the guard: alignTo restores by-name semantics
    CatalogSinks.insertIntoAppend(
      CatalogSinks.alignTo(spark, t, Seq(("v3", "k3")).toDF("value", "key")), t)
    assert(spark.table(t).where($"key" === "k3" && $"value" === "v3")
      .count() == 1)
  }

  test("INSERT OVERWRITE PARTITION replaces only the named partition (K2)") {
    val t = freshTable()
    val init = Seq((1L, "old", "202401"), (2L, "old", "202402"))
      .toDF("id", "v", "etl_date")
    CatalogSinks.saveAsTableOverwrite(init, t, Seq("etl_date"))
    val reload = Seq((2L, "new", "202402"), (9L, "new", "202402"))
      .toDF("id", "v", "etl_date")
    CatalogSinks.insertOverwritePartitions(spark, reload, t, "etl_date")
    val back = spark.table(t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, "old", "202401"), (2L, "new", "202402"),
      (9L, "new", "202402")),
      "untouched partition survives; named partition fully replaced")
    // conf restored after the statement
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_.equalsIgnoreCase("static")))
  }

  private def lockPath(t: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/.graft_commit_lock_$t")

  test("K2 commit lock: a second driver's lock blocks the overwrite " +
    "until it is released (or broken when stale)") {
    val t = freshTable()
    CatalogSinks.saveAsTableOverwrite(
      Seq((1L, "old", "202401")).toDF("id", "v", "etl_date"),
      t, Seq("etl_date"))
    val reload = Seq((1L, "new", "202401")).toDF("id", "v", "etl_date")
    val lock = lockPath(t)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // another driver holds the lock (fresh mtime): this session must
    // NOT interleave — it waits and then fails loudly
    assert(fs.createNewFile(lock))
    val e = intercept[IllegalStateException] {
      CatalogSinks.insertOverwritePartitions(spark, reload, t, "etl_date",
        lockWaitMs = 300L, lockStaleMs = 60000L)
    }
    assert(e.getMessage.contains(lock.toString))
    assert(spark.table(t).where($"v" === "new").count() == 0,
      "blocked commit must not have written")
    // the holder died: an old lock is broken and the commit proceeds
    fs.setTimes(lock, System.currentTimeMillis() - 10000L, -1L)
    CatalogSinks.insertOverwritePartitions(spark, reload, t, "etl_date",
      lockWaitMs = 5000L, lockStaleMs = 1000L)
    assert(spark.table(t).where($"v" === "new").count() == 1)
    assert(!fs.exists(lock), "lock must be released after the commit")
  }

  test("p_insert_into writes one file per month per write it touches") {
    val back = graft.queries.Parity.insertIntoQ(spark, sf0001)
    val expected = graft.Tables.load(spark, sf0001, "orders")
      .where($"o_custkey" < 100).count()
    assert(back.count() == expected)
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "graft_dwd_orders")).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).filter(_.getPath.getName
        .startsWith("etl_date=")).map { d =>
      d.getPath.getName.stripPrefix("etl_date=") ->
        fs.listStatus(d.getPath).count(_.getPath.getName.startsWith("part-"))
    }.toMap
    val latest = back.agg(max($"etl_date")).head().getString(0)
    assert(files.keySet == back.select($"etl_date").distinct()
      .collect().map(_.getString(0)).toSet)
    // b1 and b2 each touch a month at most once; the reload rewrites
    // the latest month in one file
    assert(files.values.forall(n => n >= 1 && n <= 2), files)
    assert(files(latest) == 1, files)
  }

  test("p_insert_into's table lives outside the working directory") {
    graft.SparkEntry.queries("p_insert_into")(spark, sf0001).count()
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "graft_dwd_orders")).location).getCanonicalPath
    val cwdWarehouse = new java.io.File("spark-warehouse").getCanonicalPath
    assert(!(loc + "/").startsWith(cwdWarehouse + "/"), loc)
  }

  test("p_bucketed_join adds no table to the warehouse dir") {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bkt() = (if (fs.exists(wh)) fs.listStatus(wh).toSeq else Nil)
      .map(_.getPath.getName).filter(_.startsWith("graft_bkt_")).toSet
    val before = bkt()
    assert(graft.SparkEntry.queries("p_bucketed_join")(spark, sf0001)
      .count() > 0)
    assert(bkt() == before)
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bkt_"))
    assert(tables.length >= 2, tables.mkString(", "))
    tables.foreach { t =>
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        .location).toUri.getPath
      assert(!loc.startsWith(wh.toUri.getPath), s"$t lives at $loc")
    }
  }

  test("saveAsTableOverwrite refuses qualified names and non-table dirs") {
    intercept[IllegalArgumentException] {
      CatalogSinks.saveAsTableOverwrite(
        Seq((1L, "a", "x")).toDF("id", "v", "etl_date"),
        "somedb.sometable", Seq("etl_date"))
    }
    // a directory squatting on the would-be location that is NOT a
    // previously-written table (no _SUCCESS) must not be deleted
    val t = freshTable()
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$t/keep")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    intercept[IllegalStateException] {
      CatalogSinks.saveAsTableOverwrite(
        Seq((1L, "a", "x")).toDF("id", "v", "etl_date"), t, Seq("etl_date"))
    }
    assert(fs.exists(loc), "unrecognized directory must survive")
    fs.delete(loc.getParent, true)
  }
}
