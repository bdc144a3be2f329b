package graft

import graft.canonical.Canonicalize
import graft.corpus.CorpusGen
import graft.output.Metrics
import graft.pipeline.{Caches, Pipeline}
import org.apache.spark.storage.StorageLevel

/** End-to-end golden-triple gate: the full pipeline on the deterministic
  * synthetic corpus must reach P/R >= 0.95 vs the by-construction golden
  * set (BASELINE.md hard gate; conventions `iepy/utils.py:62-89`). */
class PipelineSpec extends SparkSpec {

  test("corpus generation is deterministic and carries sha256") {
    val a = CorpusGen.genOne(0.001, 42L, 7L)
    val b = CorpusGen.genOne(0.001, 42L, 7L)
    assert(a.content == b.content)
    assert(a.content_sha256 == CorpusGen.sha256(a.content))
    assert(a.facts.sameElements(b.facts))
  }

  test("connected components merge camelCase alias with snake gazette entity") {
    import spark.implicits._
    val entities = Seq(
      ("parse_header_1", "FUNCTION", "parse_header_1", true),
      ("d1 FUNCTION 3 4", "FUNCTION", "ParseHeader1", false),
      ("emit_event_2", "FUNCTION", "emit_event_2", true))
      .toDF("entity_key", "kind", "alias", "from_gazette")
    val comp = Canonicalize.components(spark, entities).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("d1 FUNCTION 3 4") == "parse_header_1")
    assert(comp("parse_header_1") == "parse_header_1")
    assert(comp("emit_event_2") == "emit_event_2")
  }

  test("components never merge across kinds") {
    import spark.implicits._
    val entities = Seq(
      ("x_1", "FUNCTION", "x_1", true),
      ("x_1#m", "MODULE", "x_1", true))
      .toDF("entity_key", "kind", "alias", "from_gazette")
    val comp = Canonicalize.components(spark, entities).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("x_1") != comp("x_1#m"))
  }

  test("CC convergence guard: hub components are a fixpoint; singletons are caught") {
    import spark.implicits._
    val entities = Seq(
      ("a", "FUNCTION", "Foo_Bar", false),
      ("b", "FUNCTION", "foo-bar", false),
      ("c", "FUNCTION", "FOOBAR", false),
      ("d", "FUNCTION", "unrelated_x", true))
      .toDF("entity_key", "kind", "alias", "from_gazette")
    // the star-shape contract holds for the shipped normalizers
    val comp = Canonicalize
      .components(spark, entities, verifyConverged = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("a") == comp("b") && comp("b") == comp("c"))
    assert(comp("d") != comp("a"))
    // and the guard actually fires on un-merged input: every entity its
    // own (un-propagated) component
    val e = intercept[IllegalArgumentException] {
      Canonicalize.verifyFixpoint(entities,
        entities.select($"entity_key", $"entity_key".as("component")))
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("hub-reduction components == generic min-propagation (randomized)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the hub fast path (one groupBy on kind+folded form) must equal a
    // generic 2-round min-propagation over ALL (entity, form) edges —
    // the reduction's proof obligation, exercised on aliases that mix
    // every normalizer: case, underscores, dashes, spaces, gazette flags
    val rnd = new scala.util.Random(7)
    val styles = Seq[String => String](
      identity,
      _.toUpperCase,
      s => s.replace("_", "-"),
      s => s.replace("_", " "),
      s => s.split("_").map(_.capitalize).mkString) // CamelCase
    val entities = (0 until 400).map { i =>
      val base = s"alias_${i % 60}"
      val alias = styles(rnd.nextInt(styles.length))(base)
      (s"e$i", if (i % 3 == 0) "FUNCTION" else "MODULE", alias,
        rnd.nextBoolean())
    }.toDF("entity_key", "kind", "alias", "from_gazette")
    val hub = Canonicalize.components(spark, entities)
      .as[(String, String)].collect().toMap
    // generic propagation reference: 2 rounds of entity->form->entity
    // min over all three normal forms (the pre-hub implementation)
    val edges = entities.select($"entity_key", $"kind",
      struct(when($"from_gazette", 0).otherwise(1).as("r"),
        $"entity_key".as("k")).as("init"),
      explode(array_distinct(array($"alias", lower($"alias"),
        regexp_replace(lower($"alias"), "[-_\\s]+", "")))).as("f"))
      .select($"entity_key", $"init",
        concat_ws(" ", $"kind", $"f").as("form"))
    var comp = entities.select($"entity_key",
      struct(when($"from_gazette", 0).otherwise(1).as("r"),
        $"entity_key".as("k")).as("component"))
    (0 until 2).foreach { it =>
      val byForm =
        if (it == 0) edges.groupBy($"form").agg(min($"init").as("fcomp"))
        else edges.join(comp, "entity_key")
          .groupBy($"form").agg(min($"component").as("fcomp"))
      comp = edges.join(byForm, "form")
        .groupBy($"entity_key").agg(min($"fcomp").as("component"))
    }
    val ref = comp.select($"entity_key", $"component.k")
      .as[(String, String)].collect().toMap
    assert(hub == ref)
  }

  test("end-to-end P/R >= 0.95 on the synthetic corpus (gate)") {
    val sf = 0.0005 // ~100 docs; fast but non-trivial
    val raw = CorpusGen.rawDocs(spark, sf)
    val triples = Pipeline.run(spark, raw, CorpusGen.gazette(sf))
    val golden = CorpusGen.goldenTriples(spark, sf)
    val prf = Metrics.evaluate(triples, golden)
    info(s"precision=${prf.precision} recall=${prf.recall} " +
      s"predicted=${prf.predicted} gold=${prf.gold}")
    assert(prf.precision >= 0.95, s"precision ${prf.precision}")
    assert(prf.recall >= 0.95, s"recall ${prf.recall}")
  }

  test("pair cap is observable end-to-end: truncated_segments lands in the manifest") {
    import spark.implicits._
    val sf = 0.0003
    // a normal generated doc (so the run emits real triples) plus one
    // pathological line: 17 gazette-known functions in one sentence ->
    // 17*17-17 = 272 potential calls-pairs > MaxPairsPerSegment (256)
    val g = CorpusGen.genOne(sf, 42L, 0L)
    assert(g.facts.nonEmpty)
    val pathological =
      (0 until 17).map(CorpusGen.funName).mkString(" ")
    val raw = Seq(graft.schema.RawDoc(g.repo, g.path, g.commit, g.lang,
      g.content + "\n" + pathological)).toDS()
    val h = Pipeline.runWithMetrics(spark, raw, CorpusGen.gazette(sf))
    val nTriples = h.triples.count() // final action -> accumulator valid
    assert(nTriples > 0)
    assert(h.truncatedSegments.value >= 1,
      "the 272-pair segment must be counted as truncated")
    val out = java.nio.file.Files.createTempDirectory("graft_trunc")
      .toString
    Pipeline.materialize(spark, h.triples, out,
      metrics = Map("truncated_segments" -> h.truncatedSegments.value))
    val json = graft.pipeline.Fs.readString(s"$out/_manifest/metrics.json")
    assert(json.contains(
      s""""truncated_segments":${h.truncatedSegments.value}"""),
      s"metrics.json must carry the cap count, got: $json")
    h.cleanup()
    // the checkpointed run counts the segments of the docs it extracts:
    // the same doc in a fresh dir, then a no-op resume in that dir
    val ckpt = java.nio.file.Files.createTempDirectory("graft_trunc_ckpt")
      .toString
    val c1 = Pipeline.runCheckpointed(spark, raw, CorpusGen.gazette(sf), ckpt)
    assert(c1.triples.count() == nTriples)
    assert(c1.truncatedSegments.value >= 1,
      "the checkpointed run must count the 272-pair segment too")
    c1.cleanup()
    val c2 = Pipeline.runCheckpointed(spark, raw, CorpusGen.gazette(sf), ckpt)
    assert(c2.triples.count() == nTriples)
    assert(c2.newExtractBatch.isEmpty)
    assert(c2.truncatedSegments.value == 0,
      "a no-op resume extracts nothing, so truncates nothing")
    c2.cleanup()
  }

  test("a run frees its own caches and nothing else") {
    val sc = spark.sparkContext
    // a table another caller owns, tracked in the global queue
    val other = Caches.tracked(spark.range(1000).toDF("n"))
    assert(other.count() == 1000)
    val before = sc.getPersistentRDDs.size
    val sf = 0.0003
    val h = Pipeline.runWithMetrics(spark, CorpusGen.rawDocs(spark, sf),
      CorpusGen.gazette(sf))
    assert(h.triples.count() > 0)
    assert(sc.getPersistentRDDs.size > before, "the run cached nothing")
    h.cleanup()
    assert(other.storageLevel != StorageLevel.NONE,
      "the run released a table it does not own")
    assert(sc.getPersistentRDDs.size == before,
      s"the run left ${sc.getPersistentRDDs.size - before} cached tables")
    h.cleanup() // repeatable: nothing left to free
    assert(sc.getPersistentRDDs.size == before)
    Caches.release()
    assert(other.storageLevel == StorageLevel.NONE)

    // the convenience run returns only its lazy plan: its caches join the
    // global queue, so the release between queries frees them
    val beforeRun = sc.getPersistentRDDs.size
    assert(Pipeline.run(spark, CorpusGen.rawDocs(spark, sf),
      CorpusGen.gazette(sf)).count() > 0)
    assert(sc.getPersistentRDDs.size > beforeRun, "the run cached nothing")
    Caches.release()
    assert(sc.getPersistentRDDs.size == beforeRun,
      s"Pipeline.run left ${sc.getPersistentRDDs.size - beforeRun} " +
        "cached tables after Caches.release()")
  }

  test("TripleSink seam: no Iceberg runtime here -> parquet analog resolved") {
    // this container ships no Iceberg jars (offline resolver): the
    // reflective probe must say so and resolve() must fall back to the
    // parquet bucket-analog — the Iceberg path is exercised for real
    // only on clusters that carry iceberg-spark-runtime (PLANS.md
    // documents the statement-level mapping)
    assert(!graft.sources.IcebergTripleSink.available)
    assert(graft.sources.TripleSink.resolve() eq
      graft.sources.ParquetTripleSink)
  }

  test("nerCache evicts a stopped session's tries on the next session's insert") {
    val mini = Seq(("parse_header_0", "FUNCTION"))
    Pipeline.cachedNerFor("app-A", 0L,
      () => new graft.preprocess.LiteralNer(mini))
    Pipeline.cachedNerFor("app-A", 1L,
      () => new graft.preprocess.LiteralNer(mini))
    assert(Pipeline.nerCacheKeys.count(_.startsWith("app-A:")) == 2)
    // same appId re-insert keeps both entries (no false eviction)
    Pipeline.cachedNerFor("app-A", 0L,
      () => fail("cache hit must not rebuild"))
    assert(Pipeline.nerCacheKeys.count(_.startsWith("app-A:")) == 2)
    // a NEW session's first insert evicts every app-A trie: one active
    // SparkContext per JVM means app-A can never be read again
    Pipeline.cachedNerFor("app-B", 0L,
      () => new graft.preprocess.LiteralNer(mini))
    assert(!Pipeline.nerCacheKeys.exists(_.startsWith("app-A:")),
      s"stale app-A entries survived: ${Pipeline.nerCacheKeys}")
    assert(Pipeline.nerCacheKeys.count(_.startsWith("app-B:")) == 1)
    // restore the SHARED test session's view: evict our fake-app entry so
    // later suites' cachedNer calls rebuild cleanly
    Pipeline.cachedNerFor(
      org.apache.spark.SparkEnv.get.conf.getAppId, -1L,
      () => new graft.preprocess.LiteralNer(mini))
  }

  test("pipeline is idempotent: second run emits the identical triple set") {
    val sf = 0.0003
    val raw = CorpusGen.rawDocs(spark, sf)
    val gaz = CorpusGen.gazette(sf)
    val t1 = Pipeline.run(spark, raw, gaz).select("subj", "pred", "obj")
      .distinct().collect().map(_.toString).sorted
    val t2 = Pipeline.run(spark, raw, gaz).select("subj", "pred", "obj")
      .distinct().collect().map(_.toString).sorted
    assert(t1.sameElements(t2))
  }
}
