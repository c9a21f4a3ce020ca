package graft.tables

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class PartitionEvolveSpec extends SparkTestBase {
  import spark.implicits._

  test("partitioned table: k=v layout, partition column recovered, pruning works") {
    val o = Tables.t(spark, sf, "orders")
    val t = GraftTable.create(spark, scratch("part"), o.schema,
      Map("graft.partitionBy" -> "o_orderstatus"))
    t.append(o)
    // layout: data/<uuid>/o_orderstatus=F/part-*.parquet
    assert(t.filesAt().exists(_.contains("o_orderstatus=")))
    // partition column values recovered on read
    val got = t.read().groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = o.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // partition pruning through pruneFiles
    val (kept, all) = t.pruneFiles("o_orderstatus = 'F'")
    assert(kept.size < all)
    assert(kept.forall(_.contains("o_orderstatus=F")))
    assert(t.read().filter("o_orderstatus = 'F'").count() ===
      o.filter(col("o_orderstatus") === "F").count())
  }

  test("table rooted under a k=v directory keeps modern files modern") {
    // a table living at .../k=2020/tbl, with `k` also a partition column:
    // the directory above the table partitions none of its files
    val root = Paths.get(scratch("part-root"), "k=2020", "tbl").toString
    val df = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "v")
    val t = GraftTable.create(spark, root, df.schema,
      Map("graft.partitionBy" -> "k"))
    t.append(df)
    val got = t.read().select("id", "k", "v").as[(Long, String, Int)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", 10), (2L, "b", 20)))
    // pruning by partition value keeps exactly the b file
    val bFiles = t.filesAt().filter(_.contains("/__part_k=b/"))
    val (kept, total) = t.pruneFiles("k = 'b'")
    assert(bFiles.size === 1 && total === t.filesAt().size && total > 1)
    assert(kept === bFiles)
  }

  test("schema evolution: appended column becomes null for old rows") {
    val t = GraftTable.createFrom(spark, scratch("evo"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c", 7.5)).toDF("id", "v", "score"))
    val rows = t.read().orderBy("id").collect()
    assert(t.schemaAt().fieldNames.toSeq === Seq("id", "v", "score"))
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2))
    assert(rows(2).getDouble(2) === 7.5)
  }

  test("schema evolution: append missing a column fills null") {
    val t = GraftTable.createFrom(spark, scratch("evo2"),
      Seq((1L, "a", 1.0)).toDF("id", "v", "score"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(1).isNullAt(2))
  }
}
