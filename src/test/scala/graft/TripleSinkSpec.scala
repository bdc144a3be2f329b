package graft

import graft.sources.{IcebergTripleSink, ParquetTripleSink, TripleSink}

/** The Iceberg seam, executed: no Iceberg jars exist in this sandbox,
  * so the live probe can only report false — these specs inject the
  * probe result and drive the DataFrameWriterV2 path through
  * [[FakeV2Catalog]], a real (minimal) Spark V2 catalog, so the write
  * plumbing (createOrReplace -> create+append, partition transforms,
  * ALTER TABLE properties, INSERT INTO append) has executed coverage
  * instead of rotting until a user on a real cluster hits it first. */
class TripleSinkSpec extends SparkSpec {

  test("probe: both branches execute, class name pinned, resolve() flips") {
    // sandbox truth: no Iceberg runtime on the classpath
    assert(!IcebergTripleSink.available)
    assert(TripleSink.resolve() == ParquetTripleSink)

    // absent-class branch
    assert(!IcebergTripleSink.probeAvailable(n =>
      throw new ClassNotFoundException(n)))
    // present-class branch, and the probed name is exactly the Iceberg
    // Spark catalog class (a typo here would silently disable the
    // Iceberg path in every environment, forever)
    var probed: String = null
    assert(IcebergTripleSink.probeAvailable { n =>
      probed = n; classOf[String]
    })
    assert(probed == "org.apache.iceberg.spark.SparkCatalog")

    // resolve flips on the probe result
    assert(TripleSink.resolveFor(icebergAvailable = true)
      .isInstanceOf[IcebergTripleSink])
    assert(TripleSink.resolveFor(icebergAvailable = false)
      == ParquetTripleSink)
  }

  test("IcebergTripleSink.write drives DataFrameWriterV2: bucket(32, subj) + pred transforms, rows, snapshot properties") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.fake_ice",
      classOf[FakeV2Catalog].getName)
    FakeV2Catalog.reset()
    val triples = Seq(
      ("funA", "calls", "funB", "ev1"),
      ("funA", "calls", "funC", "ev2"),
      ("funD", "imports", "funA", "ev3"))
      .toDF("subj", "pred", "obj", "evidence_id")

    new IcebergTripleSink().write(spark, triples, "fake_ice.db.triples",
      buckets = 32, metrics = Map("docs" -> 5L, "truncated" -> 0L))

    val stored = FakeV2Catalog.tables("db.triples")
    // the catalog received the north rule's layout: hash-bucketed by
    // subject, partitioned by predicate — in that order
    val transforms = stored.partitioning.map(_.describe()).toSeq
    assert(transforms.length == 2, s"transforms: $transforms")
    assert(transforms.head.replaceAll("\\s", "") == "bucket(32,subj)",
      s"first transform: ${transforms.head}")
    assert(transforms(1) == "pred", s"second transform: ${transforms(1)}")
    // the rows landed through the V2 BatchWrite
    import scala.jdk.CollectionConverters._
    assert(stored.rows.asScala.toSet == Set(
      Seq("funA", "calls", "funB", "ev1"),
      Seq("funA", "calls", "funC", "ev2"),
      Seq("funD", "imports", "funA", "ev3")))
    // run metrics ride as table properties (the snapshot-versioned
    // analog of the parquet sink's metrics.json)
    assert(stored.props.get("graft.metrics.docs").contains("5"))
    assert(stored.props.get("graft.metrics.truncated").contains("0"))

    // createOrReplace REPLACES: a second write must not append
    new IcebergTripleSink().write(spark,
      Seq(("funX", "calls", "funY", "ev9"))
        .toDF("subj", "pred", "obj", "evidence_id"),
      "fake_ice.db.triples", buckets = 32, metrics = Map.empty)
    assert(FakeV2Catalog.tables("db.triples").rows.asScala.toSeq ==
      Seq(Seq("funX", "calls", "funY", "ev9")))
  }

  test("writeIncremental: touched-component DELETE statement + executed APPEND") {
    import spark.implicits._
    // the DELETE half runs through Iceberg's row-level operations
    // (IN-subqueries), which no fake catalog can emulate — its shape is
    // the contract: delete every row keyed into the re-linked component
    // space (touched prior canonicals plus the canonicals the batch's CC
    // re-run produced), which holds every row the APPEND re-writes, so a
    // replay converges
    val del = IcebergTripleSink.deleteStatement("cat.db.t", "relinked_v")
    val keys = "SELECT canonical FROM relinked_v"
    assert(del == s"DELETE FROM cat.db.t WHERE subj IN ($keys) " +
      s"OR obj IN ($keys)")

    // the APPEND half executes against the fake catalog: INSERT INTO an
    // existing table must ADD rows, never replace them
    spark.conf.set("spark.sql.catalog.fake_ice",
      classOf[FakeV2Catalog].getName)
    FakeV2Catalog.reset()
    new IcebergTripleSink().write(spark,
      Seq(("funA", "calls", "funB", "ev1"))
        .toDF("subj", "pred", "obj", "evidence_id"),
      "fake_ice.db.inc", buckets = 32, metrics = Map.empty)
    val rebuilt = Seq(("funA", "calls", "funC", "ev2"))
      .toDF("subj", "pred", "obj", "evidence_id")
    val touched = Seq("funA").toDF("canonical")
    val thrown = intercept[Exception] {
      // DELETE against the fake raises (no row-level op support) —
      // assert the failure is the DELETE, not the view plumbing
      new IcebergTripleSink().writeIncremental(spark, rebuilt, touched,
        "fake_ice.db.inc")
    }
    assert(thrown.getMessage != null)
    // drive the append alone the way writeIncremental does
    rebuilt.createOrReplaceTempView("graft_rebuilt_spec")
    spark.sql("INSERT INTO fake_ice.db.inc " +
      "SELECT subj, pred, obj, evidence_id FROM graft_rebuilt_spec")
    spark.catalog.dropTempView("graft_rebuilt_spec")
    import scala.jdk.CollectionConverters._
    assert(FakeV2Catalog.tables("db.inc").rows.asScala.toSet == Set(
      Seq("funA", "calls", "funB", "ev1"),
      Seq("funA", "calls", "funC", "ev2")))
  }

  test("incremental DELETE keeps an untouched component that a rebuilt row points into") {
    import spark.implicits._
    // prior table: component t calls untouched component u, u calls v.
    // The batch touches t only; its CC re-run yields t and a new w, and
    // the rebuilt rows are (t, calls, u) and (t, calls, w). Keying the
    // DELETE on the rebuilt rows' own obj would put u in the key set and
    // delete (u, calls, v), which nothing re-appends.
    val prior = Seq(("t", "calls", "u", "e1"), ("u", "calls", "v", "e2"))
    val rebuilt = Seq(("t", "calls", "u", "e1"), ("t", "calls", "w", "e3"))
      .toDF("subj", "pred", "obj", "evidence_id")
    Seq("t", "w").toDF("canonical").createOrReplaceTempView("relinked_spec")
    rebuilt.createOrReplaceTempView("rebuilt_spec")
    // the DELETE run as a SELECT of the rows it keeps, then the APPEND
    val del = IcebergTripleSink.deleteStatement("tbl", "relinked_spec")
    assert(del.startsWith("DELETE FROM tbl WHERE "))
    val where = del.stripPrefix("DELETE FROM tbl WHERE ")
    // sorted sequences, so a duplicated row cannot hide in a set
    def commit(table: Seq[(String, String, String, String)]) = {
      table.toDF("subj", "pred", "obj", "evidence_id")
        .createOrReplaceTempView("table_spec")
      spark.sql(s"SELECT * FROM table_spec WHERE NOT ($where) " +
        "UNION ALL SELECT * FROM rebuilt_spec").as[(String, String, String, String)].collect()
        .toSeq.sorted
    }
    val expected = Seq(("t", "calls", "u", "e1"), ("t", "calls", "w", "e3"),
      ("u", "calls", "v", "e2"))
    val once = commit(prior)
    assert(once == expected)
    // a replay of the same batch over the committed table converges
    assert(commit(once) == expected)
    Seq("relinked_spec", "rebuilt_spec", "table_spec")
      .foreach(spark.catalog.dropTempView)
  }
}
