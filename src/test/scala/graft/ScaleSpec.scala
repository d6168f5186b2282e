package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Scale, Tables}

/** Scale strategies: result-identity of the salted join and
  * exchange-freeness of bucketed joins.
  */
class ScaleSpec extends AnyFunSuite {
  import TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  test("salted join is result-identical to the plain join") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).head()
    val salted = Scale.saltedJoin(li, o, "l_orderkey", saltFactor = 4)
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).head()
    assert(plain == salted)
  }

  test("partitioned parquet write enables partition pruning on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.events(spark, sf)
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
    val n = filtered.count()
    assert(n > 0)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter not pushed:\n$plan")
    // pruned read returns exactly the purchase rows
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(n == expected)
  }

  test("bucketed join plans without a shuffle exchange") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Scale.writeBucketed(o, "b_orders", "o_orderkey", 4)
    Scale.writeBucketed(li, "b_lineitem", "o_orderkey", 4)
    val joined = Scale.readBucketed(spark, "b_orders")
      .join(Scale.readBucketed(spark, "b_lineitem"), "o_orderkey")
    joined.collect()
    val plan = (joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    assert(!plan.contains("Exchange hashpartitioning"), s"plan:\n$plan")
  }

  test("write-audit-publish: clean data publishes; a violating drop " +
      "stays quarantined and readers keep the previous version") {
    import TestSpark.spark.implicits._
    import graft.engine.Quality
    val base = java.nio.file.Files
      .createTempDirectory("graft-wap").toString + "/table"
    val rules = Seq(Quality.Complete("v", 1.0),
      Quality.InRange("v", 0.0, 100.0, 1.0))
    // v1: clean → published
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    assert(Scale.writeAuditPublish(v1, base, "v1", rules))
    assert(Scale.readPublished(spark, base).count() == 2)
    // v2: out-of-range value → audit fails, pointer untouched
    val v2 = Seq((3L, 10.0), (4L, 500.0)).toDF("id", "v")
    assert(!Scale.writeAuditPublish(v2, base, "v2", rules))
    val served = Scale.readPublished(spark, base)
      .select("id").as[Long].collect().toSet
    assert(served == Set(1L, 2L)) // still v1
    // the quarantined stage remains for debugging
    assert(new java.io.File(s"$base/v2").exists())
    // same version name refuses to overwrite the quarantined data
    assertThrows[Exception] {
      Scale.writeAuditPublish(v1, base, "v2", rules)
    }
    // v3: clean again → supersedes v1
    val v3 = Seq((5L, 30.0)).toDF("id", "v")
    assert(Scale.writeAuditPublish(v3, base, "v3", rules))
    assert(Scale.readPublished(spark, base)
      .select("id").as[Long].collect().toSet == Set(5L))
  }

  test("write-audit-publish commits through a whole-file pointer swap; " +
      "a torn (empty) pointer fails readPublished loudly") {
    import TestSpark.spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-wap-torn").toString + "/table"
    assert(Scale.writeAuditPublish(Seq((1L, 1.0)).toDF("id", "v"), base,
      "v1", Seq(graft.engine.Quality.Complete("v", 1.0))))
    val pointer = new java.io.File(base, "_CURRENT").toPath
    assert(new String(java.nio.file.Files.readAllBytes(pointer), "UTF-8")
      == "v1")
    assert(new java.io.File(base).list().toSet == Set("_CURRENT", "v1"))
    java.nio.file.Files.write(pointer, Array.emptyByteArray)
    val e = intercept[IllegalStateException](
      Scale.readPublished(spark, base).collect())
    assert(e.getMessage.contains("empty _CURRENT pointer"))
  }

  test("retainVersions sweeps superseded and quarantined versions, " +
      "never the published one; _CURRENT survives a partial sweep") {
    import TestSpark.spark.implicits._
    import graft.engine.Quality
    val base = java.nio.file.Files
      .createTempDirectory("graft-wap-gc").toString + "/table"
    val rules = Seq(Quality.Complete("v", 1.0))
    assert(Scale.writeAuditPublish(
      Seq((1L, 1.0)).toDF("id", "v"), base, "v1", rules))
    assert(!Scale.writeAuditPublish( // quarantined failed audit
      Seq((2L, Double.NaN)).toDF("id", "v"), base, "v2",
      Seq(Quality.InRange("v", 0.0, 1.0, 1.0))))
    assert(Scale.writeAuditPublish(
      Seq((3L, 3.0)).toDF("id", "v"), base, "v3", rules))
    val deleted = Scale.retainVersions(base, keep = 1)
    assert(deleted.toSet == Set("v1", "v2"), s"deleted: $deleted")
    val left = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(left == Set("v3"))
    assert(Scale.readPublished(spark, base)
      .select("id").as[Long].collect().toSet == Set(3L))
    // a sweep that finds nothing to do is a no-op, and the published
    // version is NEVER collected even when older than the keep window
    assert(Scale.retainVersions(base, keep = 1).isEmpty)
    assert(Scale.readPublished(spark, base).count() == 1)
  }

  test("compactPublished: republishes the same rows in sized files; " +
      "a row-count contract makes silent data loss impossible") {
    import TestSpark.spark.implicits._
    import graft.engine.Quality
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact").toString + "/table"
    val df = graft.engine.Tables.orders(spark, "/root/testdata/sf0.001")
    val n = df.count()
    assert(Scale.writeAuditPublish(df.repartition(8), base, "v1",
      Seq(Quality.RowCountBetween(n, n))))
    val filesBefore = new java.io.File(s"$base/v1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore == 8)
    // compact toward large files → fewer of them, same rows, republished
    assert(Scale.compactPublished(spark, base, "v2",
      targetBytes = 64L * 1024 * 1024,
      rules = Seq(Quality.RowCountBetween(n, n))))
    val served = Scale.readPublished(spark, base)
    assert(served.count() == n)
    val filesAfter = new java.io.File(s"$base/v2").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")
    // existing version name is refused
    assertThrows[IllegalArgumentException] {
      Scale.compactPublished(spark, base, "v2", 1024L,
        Seq(Quality.RowCountBetween(n, n)))
    }
  }

  test("writeSized calibrates records-per-file from measured bytes and " +
      "splits output accordingly; data round-trips") {
    val df = graft.engine.Tables.orders(spark, "/root/testdata/sf0.001")
      .repartition(1) // one task → the cap alone decides file count
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sized").toString + "/out"
    // tiny target → many files; cap should be far below the row count
    val cap = Scale.writeSized(df, dir, targetBytes = 8 * 1024)
    val n = df.count()
    assert(cap >= 1L && cap < n, s"cap $cap vs rows $n")
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, s"expected multiple files, got ${files.length}")
    // every file respects the cap (±1 task boundary effects aside)
    assert(spark.read.parquet(dir).count() == n)
    // no probe directory left behind
    assert(!new java.io.File(dir + "__probe").exists())
  }

  test("zorderWrite: a narrow range on EITHER clustered dimension " +
      "overlaps a strict file subset, where the 1-D layout prunes " +
      "nothing on its non-sorted dimension; data round-trips") {
    val df = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val base = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString
    val zDir = base + "/z"
    val linDir = base + "/lin"
    Scale.zorderWrite(df, zDir, Seq("o_custkey", "o_totalprice"),
      numFiles = 16)
    Scale.clusteredWrite(df, linDir, "o_custkey", numFiles = 16)

    def fileBoxes(dir: String): Array[(Double, Double, Double, Double)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.toString).agg(
            min("o_custkey"), max("o_custkey"),
            min("o_totalprice"), max("o_totalprice")).head()
          (r.getLong(0).toDouble, r.getLong(1).toDouble,
            r.getDouble(2), r.getDouble(3))
        }
    val zBoxes = fileBoxes(zDir)
    val linBoxes = fileBoxes(linDir)
    assert(zBoxes.length > 4, "fixture must produce multiple z files")

    // a ~10% band in the middle of each dimension
    val Array(ck10, ck45, ck55) =
      df.stat.approxQuantile("o_custkey", Array(0.1, 0.45, 0.55), 0.0)
    val Array(tp45, tp55) =
      df.stat.approxQuantile("o_totalprice", Array(0.45, 0.55), 0.0)
    def touchCk(bs: Array[(Double, Double, Double, Double)]) =
      bs.count(b => b._1 <= ck55 && b._2 >= ck45)
    def touchTp(bs: Array[(Double, Double, Double, Double)]) =
      bs.count(b => b._3 <= tp55 && b._4 >= tp45)

    // z-order prunes on both dimensions
    assert(touchCk(zBoxes) < zBoxes.length,
      s"custkey band should skip some z files: ${zBoxes.toSeq}")
    assert(touchTp(zBoxes) < zBoxes.length,
      s"totalprice band should skip some z files: ${zBoxes.toSeq}")
    // the 1-D layout prunes custkey but NOT totalprice — every file
    // spans essentially the full totalprice domain (this is the gap
    // z-ordering closes, not a strawman)
    assert(touchCk(linBoxes) < linBoxes.length)
    assert(touchTp(linBoxes) == linBoxes.length,
      s"1-D layout unexpectedly clustered totalprice: ${linBoxes.toSeq}")
    assert(touchTp(zBoxes) < touchTp(linBoxes))
    // round-trip: same rows, clustering is layout-only
    assert(spark.read.parquet(zDir).count() == df.count())
    assert(ck10 >= 0.0) // quantile sanity anchor
  }

  test("clusteredWrite: per-file key ranges are pairwise disjoint, so a " +
      "key-range predicate has data in a bounded file subset; data " +
      "round-trips") {
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-clustered").toString + "/out"
    Scale.clusteredWrite(df, dir, "o_orderkey", numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1, "fixture must produce multiple files")
    // per-file key ranges from the data actually written
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // a narrow key range only has data where its file range overlaps
    val n = df.count()
    val (lo, hi) = (ranges(2)._1, ranges(2)._2)
    val touching = ranges.count(r => r._1 <= hi && r._2 >= lo)
    assert(touching == 1,
      s"a single clustered range should cover its own keys: $ranges")
    assert(spark.read.parquet(dir).count() == n)
    // the unclustered layout CAN'T promise this: every file may hold
    // keys from the full domain (this is the property, not a tautology
    // — round-robin partitioning interleaves the key range everywhere)
  }

  test("aggState/mergeAggState: a two-step merge of three slices equals " +
      "the full recompute bit-for-bit; an empty delta is the identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      (rnd.nextInt(20).toLong,
        if (i % 17 == 0) None
        else Some(rnd.nextInt(100000).toLong - 50000L))
    }
    def states(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k")
        .as[(Long, Long, Option[Long], Option[Long], Option[Long])]
        .collect().toSeq
    val full = Scale.aggState(rows.toDF("k", "v"), Seq("k"), "v")
    val (a, bc) = rows.splitAt(200)
    val (b, c) = bc.splitAt(150)
    def st(s: Seq[(Long, Option[Long])]) =
      Scale.aggState(s.toDF("k", "v"), Seq("k"), "v")
    val merged = Scale.mergeAggState(
      Scale.mergeAggState(st(a), st(b), Seq("k")), st(c), Seq("k"))
    assert(states(merged) == states(full))
    // identity: merging an empty state changes nothing
    val withEmpty = Scale.mergeAggState(full, full.limit(0), Seq("k"))
    assert(states(withEmpty) == states(full))
  }

  test("ensureBucketed: join is exchange-free, a second call reuses " +
      "the table without re-evaluating the source, and a stale " +
      "warehouse location from a dead session is recovered") {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    val bo = Scale.ensureBucketed(spark, o, "sp_o", sf, "o_custkey", 4)
    val bc = Scale.ensureBucketed(spark, c, "sp_c", sf, "c_custkey", 4)
    val joined = bo.hint("merge")
      .join(bc, col("o_custkey") === col("c_custkey"))
    assert(joined.count() == o.count()) // every order has a customer
    val plan = (joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    assert(plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
    // idempotent: a second identical call reuses the catalog table
    // (no second materialization — table count is unchanged)
    val nTables = spark.catalog.listTables().count()
    val again = Scale.ensureBucketed(spark, o, "sp_o", sf, "o_custkey", 4)
    assert(again.count() == o.count())
    assert(spark.catalog.listTables().count() == nTables,
      "cache hit materialized a new table")
    // stale location (files on disk, no catalog entry — a previous
    // session's leftovers) is cleared and the write succeeds
    // (table name mirrors ensureBucketed's layout-keyed formula)
    val tag = "stale-tag"
    val schemaFp = c.schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    val table = f"graft_bkt_sp_s_c_custkey_4_" +
      f"${s"$tag|$schemaFp".hashCode & 0x7fffffff}%08x"
    val loc = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    assert(loc.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(loc, "junk").toPath, "stale")
    val bs = Scale.ensureBucketed(spark, c, "sp_s", tag, "c_custkey", 4)
    assert(bs.count() == c.count())
    // guard against formula drift: if ensureBucketed's table-name
    // scheme changes, the junk above lands at the wrong path and this
    // test stops exercising recovery — fail loudly instead
    assert(spark.catalog.tableExists(table),
      s"ensureBucketed did not create $table — name formula drifted")
  }

  test("ensureBucketed cache key folds in bucket key, count, and " +
      "schema: a layout change MISSES instead of reusing stale data") {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val base = Scale.ensureBucketed(spark, o, "sp_k", sf, "o_custkey", 4)
    assert(base.count() == o.count())
    // same (name, tag), different bucket KEY → distinct table whose
    // merge-join on the new key is exchange-free (stale reuse would
    // leave an o_orderkey exchange in the plan)
    val byOrder =
      Scale.ensureBucketed(spark, o, "sp_k", sf, "o_orderkey", 4)
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val bl = Scale.ensureBucketed(spark,
      l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "sp_kl", sf, "o_orderkey", 4)
    val j = byOrder.hint("merge").join(bl, Seq("o_orderkey"))
    assert(j.count() == l.count())
    val plan = (j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    assert(!plan.contains("Exchange"), s"plan:\n$plan")
    // same (name, tag, key), different bucket COUNT → distinct table
    // (a NEW catalog table is materialized, not the 4-bucket one reused)
    val before = spark.catalog.listTables().count()
    val eight =
      Scale.ensureBucketed(spark, o, "sp_k", sf, "o_custkey", 8)
    assert(eight.count() == o.count())
    assert(spark.catalog.listTables().count() == before + 1,
      "bucket-count change did not materialize a distinct table")
    // same everything, narrower SCHEMA → distinct table, narrow columns
    val narrow = Scale.ensureBucketed(spark,
      o.select("o_orderkey", "o_custkey"), "sp_k", sf, "o_custkey", 4)
    assert(narrow.columns.toSeq == Seq("o_orderkey", "o_custkey"),
      s"got ${narrow.columns.toSeq} — stale wide table reused")
  }
}
