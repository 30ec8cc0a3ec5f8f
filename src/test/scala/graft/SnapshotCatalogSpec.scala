package graft

import java.nio.file.Files

import graft.sources.Snapshots

/** The V2 TableCatalog over snapshot tables: plain SQL drives the
  * table lifecycle (CREATE/INSERT/SELECT/time travel/OVERWRITE/RENAME/
  * DROP) against the same manifest chain and commit protocol as every
  * other surface.
  */
class SnapshotCatalogSpec extends SparkTestBase {

  private lazy val wh = {
    val dir = Files.createTempDirectory("graftwh").toString
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", dir)
    dir
  }

  test("SQL lifecycle: create, insert, select, version + timestamp travel, overwrite") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
    spark.sql("CREATE TABLE graft_cat.ns.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_cat.ns.t VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO graft_cat.ns.t VALUES (3, 30)")
    assert(spark.sql("SELECT sum(id) FROM graft_cat.ns.t").head().getLong(0) === 6)
    // create = v1 (empty, schema-bearing), inserts = v2, v3
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.t VERSION AS OF 2")
      .head().getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.t VERSION AS OF 1")
      .head().getLong(0) === 0)
    // TIMESTAMP AS OF resolves by publish time (newest at-or-before)
    val t2 = Snapshots.history(spark, s"$wh/ns/t")
      .filter(org.apache.spark.sql.functions.col("version") === 2L)
      .select("committed_at").head().getTimestamp(0)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_cat.ns.t TIMESTAMP AS OF '$t2'")
      .head().getLong(0) === 2)
    // INSERT OVERWRITE replaces the current set; history stays readable
    spark.sql("INSERT OVERWRITE graft_cat.ns.t VALUES (9, 90)")
    assert(spark.sql("SELECT sum(id) FROM graft_cat.ns.t").head().getLong(0) === 9)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.t VERSION AS OF 3")
      .head().getLong(0) === 3)
    // the catalog and the programmatic surface see one table
    assert(Snapshots.versions(spark, s"$wh/ns/t") === Seq(1L, 2L, 3L, 4L))
  }

  test("append schema mismatch fails; non-ADD ALTER and PARTITIONED BY are loud") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns2")
    spark.sql("CREATE TABLE graft_cat.ns2.s (id BIGINT)")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft_cat.ns2.s VALUES (1, 'x')"))
    assert(e.getMessage.contains("INSERT_COLUMN_ARITY_MISMATCH"), e.getMessage)
    // RENAME is metadata-sound WITH field ids (SchemaEvolutionSpec);
    // without them (a legacy table) old footers cannot remap — still
    // loud, naming the adoption remedy
    val whPath = spark.conf.get("spark.sql.catalog.graft_cat.warehouse")
    graft.sources.FieldIds.deleteState(spark, s"$whPath/ns2/s")
    val a = intercept[Exception](
      spark.sql("ALTER TABLE graft_cat.ns2.s RENAME COLUMN id TO id2"))
    assert(a.getMessage.contains("per-field id"), a.getMessage)
    // a nested-field ALTER stays unsupported outright
    val nest = intercept[Exception](
      spark.sql("ALTER TABLE graft_cat.ns2.s ADD COLUMNS (x.y BIGINT)"))
    assert(nest.getMessage.toLowerCase.contains("top-level") ||
      nest.getMessage.toLowerCase.contains("cannot be resolved"),
      nest.getMessage)
    // since round 11, identity/time/truncate transforms create a
    // HIDDEN-PARTITIONING clustering spec (PartitionSpecSpec);
    // multi-transform layouts stay loud — one layout owner per table
    spark.sql("CREATE TABLE graft_cat.ns2.p (id BIGINT) PARTITIONED BY (id)")
    assert(graft.sources.PartitionSpecs
      .current(spark, s"$whPath/ns2/p")
      .exists(s => s.transform == "identity" && s.column == "id"))
    val p = intercept[Exception](spark.sql(
      "CREATE TABLE graft_cat.ns2.p2 (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (bucket(4, id), days(ts))"))
    assert(p.getMessage.contains("ONE layout transform"), p.getMessage)
  }

  test("rename moves the manifest chain; drop removes; missing tables are loud") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns3")
    spark.sql("CREATE TABLE graft_cat.ns3.a (id BIGINT)")
    spark.sql("INSERT INTO graft_cat.ns3.a VALUES (7)")
    // capture a pre-rename commit time: the rename must not reset
    // manifest mtimes, or TIMESTAMP AS OF / history break for the
    // renamed table
    val preTs = Snapshots.history(spark, s"$wh/ns3/a")
      .select(org.apache.spark.sql.functions.max("committed_at"))
      .head().getTimestamp(0)
    Thread.sleep(50)
    spark.sql("ALTER TABLE graft_cat.ns3.a RENAME TO ns3.b")
    assert(spark.sql("SELECT sum(id) FROM graft_cat.ns3.b").head().getLong(0) === 7)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_cat.ns3.b TIMESTAMP AS OF '$preTs'")
      .head().getLong(0) === 1)
    // time travel still works after the rename (the manifests' entries
    // are root-relative, so they move with the directory)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns3.b VERSION AS OF 1")
      .head().getLong(0) === 0)
    intercept[Exception](spark.sql("SELECT * FROM graft_cat.ns3.a").collect())
    assert(spark.sql("SHOW TABLES IN graft_cat.ns3").collect()
      .map(_.getString(1)).toSeq === Seq("b"))
    spark.sql("DROP TABLE graft_cat.ns3.b")
    intercept[Exception](spark.sql("SELECT * FROM graft_cat.ns3.b").collect())
    assert(spark.sql("SHOW TABLES IN graft_cat.ns3").count() === 0)
  }

  test("SQL DELETE FROM routes into the COW delete; TRUNCATE empties; history intact") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns5")
    spark.sql("CREATE TABLE graft_cat.ns5.d (id BIGINT, tag STRING)")
    spark.sql("INSERT INTO graft_cat.ns5.d VALUES " +
      "(1, 'keep'), (2, 'drop'), (3, 'keep'), (4, NULL)")
    spark.sql("DELETE FROM graft_cat.ns5.d WHERE tag = 'drop' OR id >= 4")
    // SQL delete semantics: the NULL-tag row has id < 4 and a NULL
    // predicate -> survives; only (2) and (4) go
    assert(spark.sql("SELECT id FROM graft_cat.ns5.d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // time travel reads the pre-delete version (create=1, insert=2, delete=3)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns5.d VERSION AS OF 2")
      .head().getLong(0) === 4)
    spark.sql("TRUNCATE TABLE graft_cat.ns5.d")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns5.d").head().getLong(0) === 0)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns5.d VERSION AS OF 3")
      .head().getLong(0) === 2)
  }

  test("atomic CTAS and REPLACE TABLE AS SELECT via the staging catalog") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns6")
    spark.sql("CREATE TABLE graft_cat.ns6.c AS " +
      "SELECT id, id * 2 AS dbl FROM range(1, 6)")
    assert(spark.sql("SELECT sum(dbl) FROM graft_cat.ns6.c").head().getLong(0) === 30)
    // ATOMIC CTAS (StagingTableCatalog): the data lands in ONE commit —
    // no intermediate empty version a reader could observe
    assert(Snapshots.versions(spark, s"$wh/ns6/c") === Seq(1L))
    // CTAS onto an existing table is rejected, table untouched
    intercept[Exception](
      spark.sql("CREATE TABLE graft_cat.ns6.c AS SELECT 1 AS x"))
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns6.c").head().getLong(0) === 5)
    // RTAS: one atomic overwrite version; old snapshot stays readable
    spark.sql("REPLACE TABLE graft_cat.ns6.c AS SELECT 42 AS answer")
    assert(spark.sql("SELECT answer FROM graft_cat.ns6.c").head().getInt(0) === 42)
    assert(spark.sql("SELECT sum(dbl) FROM graft_cat.ns6.c VERSION AS OF 1")
      .head().getLong(0) === 30)
    // REPLACE of a missing table is loud; CREATE OR REPLACE creates it
    intercept[Exception](
      spark.sql("REPLACE TABLE graft_cat.ns6.missing AS SELECT 1 AS x"))
    spark.sql("CREATE OR REPLACE TABLE graft_cat.ns6.cor AS SELECT 7 AS x")
    assert(spark.sql("SELECT x FROM graft_cat.ns6.cor").head().getInt(0) === 7)
    // a failed CTAS stages nothing visible: the table does not exist
    intercept[Exception](spark.sql(
      "CREATE TABLE graft_cat.ns6.boom AS " +
        "SELECT assert_true(id < 2, 'boom') AS a, id FROM range(1, 6)"))
    intercept[Exception](
      spark.sql("SELECT * FROM graft_cat.ns6.boom").collect())
    assert(!Snapshots.versions(spark, s"$wh/ns6/boom").nonEmpty)
  }

  test("two catalog instances over one warehouse see the same commits") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns4")
    spark.sql("CREATE TABLE graft_cat.ns4.shared (id BIGINT)")
    // a second catalog name, same warehouse: no shared in-memory state
    spark.conf.set("spark.sql.catalog.graft_cat2",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat2.warehouse", wh)
    spark.sql("INSERT INTO graft_cat.ns4.shared VALUES (5)")
    assert(spark.sql("SELECT sum(id) FROM graft_cat2.ns4.shared")
      .head().getLong(0) === 5)
    spark.sql("INSERT INTO graft_cat2.ns4.shared VALUES (6)")
    assert(spark.sql("SELECT sum(id) FROM graft_cat.ns4.shared")
      .head().getLong(0) === 11)
  }
}
