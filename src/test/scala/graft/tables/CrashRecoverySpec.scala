package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.{SparkTestBase, Tables}

/** Crash-shape recovery: the commit protocol (data files first, then one
  * atomic log-file publish) means a writer that dies between the two
  * leaves only orphan data files — never a partially visible commit.
  * These tests simulate the crash debris directly and pin that reads,
  * history, stats pruning, and later writers are unaffected, and that
  * VACUUM reclaims the orphans. */
class CrashRecoverySpec extends SparkTestBase {

  private def customer = Tables.t(spark, sf, "customer")

  /** Simulate a writer that crashed after writing data, before commit:
    * copy an existing data file under a fresh (unreferenced) name. */
  private def plantOrphan(t: GraftTable): String = {
    val dataDir = Paths.get(t.path, "data")
    val existing = GraftTable.walkDir(dataDir)
      .filter(_.toString.endsWith(".parquet")).head
    val orphan = dataDir.resolve(
      s"part-orphan-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    Files.copy(existing, orphan)
    orphan.toString
  }

  test("orphan data files from a crashed writer are invisible and vacuumable") {
    val t = GraftTable.createFrom(spark, scratch("crash-orphan"), customer.limit(40))
    val rows = t.read().count()
    val version = t.currentVersion
    val orphan = plantOrphan(t)

    // snapshot reads are file-list-driven: the orphan never surfaces
    assert(t.read().count() === rows)
    assert(t.currentVersion === version)
    assert(t.history.count() === version + 1)
    // stats-pruned reads walk the same commit-log file list
    assert(t.read().filter("c_custkey >= 0").count() === rows)

    // a later writer is oblivious: appends commit right past the debris
    t.append(customer.limit(5))
    assert(t.read().count() === rows + 5)

    // VACUUM reclaims exactly the unreferenced file
    val deleted = t.vacuum(retainVersions = Int.MaxValue)
    assert(deleted === Seq(orphan))
    assert(!Files.exists(Paths.get(orphan)))
    assert(t.read().count() === rows + 5)
  }

  test("stray tmp and junk files in _log are ignored by the log reader") {
    val t = GraftTable.createFrom(spark, scratch("crash-log"), customer.limit(30))
    val rows = t.read().count()
    val logDir = Paths.get(t.path, "_log")
    // a commit tmp whose writer died pre-publish, plus unrelated junk
    Files.write(logDir.resolve(".commit12345.tmp"), "{truncated".getBytes)
    Files.write(logDir.resolve("_editor.swp"), Array[Byte](1, 2, 3))
    GraftTable.clearLogCache(t.path) // force a cold re-list

    val t2 = GraftTable.load(spark, t.path)
    assert(t2.read().count() === rows)
    assert(t2.currentVersion === t.currentVersion)
    t2.append(customer.limit(5))
    assert(t2.read().count() === rows + 5)
  }

  test("SCD1 tombstone ledger survives a crash at any point of the swap") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
    val t = GraftTable.create(spark, scratch("tombcrash"), schema)
    val up = Seq((1L, "live", 1L)).toDF("id", "v", "seq").withColumn("op", lit("UPSERT"))
    Scd.applyChangesScd1(t, up, Seq("id"), "seq", deleteWhen = Some("op = 'DELETE'"))
    val del = Seq((1L, "x", 5L)).toDF("id", "v", "seq").withColumn("op", lit("DELETE"))
    Scd.applyChangesScd1(t, del, Seq("id"), "seq", deleteWhen = Some("op = 'DELETE'"))
    // simulate a writer that crashed mid-swap: an orphaned new generation
    // dir + a leftover pointer tmp, with the pointer still on the old gen
    val root = java.nio.file.Paths.get(t.path)
    val orphan = root.resolve("_scd1_tombstones_gdeadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(root.resolve("_scd1_tombstones_ptr.tmp"),
      "_scd1_tombstones_gdeadbeef".getBytes("UTF-8"))
    // the ledger still rejects the pre-delete zombie (old gen is current)
    val stale = Seq((1L, "zombie", 3L)).toDF("id", "v", "seq").withColumn("op", lit("UPSERT"))
    Scd.applyChangesScd1(t, stale, Seq("id"), "seq", deleteWhen = Some("op = 'DELETE'"))
    assert(t.read().isEmpty, "pre-delete upsert must not resurrect after crash debris")
    // that apply performed a successful swap → debris is gone, exactly one
    // generation + the pointer remain
    val s = java.nio.file.Files.list(root)
    val ledgers = try s.iterator().asScala.map(_.getFileName.toString).toList
                      .filter(_.startsWith("_scd1_tombstones")) finally s.close()
    assert(!ledgers.contains("_scd1_tombstones_gdeadbeef"), s"debris not cleaned: $ledgers")
    assert(ledgers.count(_.matches("_scd1_tombstones_g[0-9a-f]+")) == 1, ledgers.toString)
    assert(ledgers.contains("_scd1_tombstones_ptr"), ledgers.toString)
    // the leftover pointer tmp from the crashed writer is swept too — a
    // lingering ptr.tmp is exactly the debris a later crash could move
    // over the live pointer
    assert(!ledgers.contains("_scd1_tombstones_ptr.tmp"), ledgers.toString)
  }

  test("ledger pointer naming a missing generation fails loudly") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
    val t = GraftTable.create(spark, scratch("tombcorrupt"), schema)
    val del = Seq((1L, "x", 5L)).toDF("id", "v", "seq").withColumn("op", lit("DELETE"))
    Scd.applyChangesScd1(t, del, Seq("id"), "seq", deleteWhen = Some("op = 'DELETE'"))
    // corrupt the storage: point at a generation that does not exist —
    // treating this as "no ledger" would silently drop tombstone
    // protection and let a pre-delete zombie resurrect
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t.path, "_scd1_tombstones_ptr"),
      "_scd1_tombstones_gmissing".getBytes("UTF-8"))
    val stale = Seq((1L, "zombie", 3L)).toDF("id", "v", "seq").withColumn("op", lit("UPSERT"))
    val e = intercept[IllegalStateException] {
      Scd.applyChangesScd1(t, stale, Seq("id"), "seq",
        deleteWhen = Some("op = 'DELETE'"))
    }
    assert(e.getMessage.contains("missing generation"), e.getMessage)
  }

  test("cold reopen after crash debris reconstructs the same snapshot") {
    val path = scratch("crash-reopen")
    val t = GraftTable.createFrom(spark, path, customer.limit(25))
    t.append(customer.limit(10))
    val before = t.read().count()
    plantOrphan(t)
    Files.write(Paths.get(path, "_log").resolve(".commit9.tmp"), "junk".getBytes)

    GraftTable.clearAllCaches() // fresh-JVM shape: no cached log, no cached stats
    val re = GraftTable.load(spark, path)
    assert(re.read().count() === before)
    assert(re.read(versionAsOf = 1).count() === 25)
  }
}
