package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.Candidates
import graft.canonical.Canonicalize
import graft.preprocess.{NerRunner, LiteralNer, PosTagger, Segmenter, TagRunNer, Tokenizer}
import graft.rules.{CodeRules, Rules}
import graft.schema._

/** The end-to-end KG-construction pipeline:
  * extract -> link -> canonicalize -> materialize (north rule).
  *
  * Stage graph (shuffle boundaries marked):
  *
  *   raw docs --map--> preprocessed docs + mentions + segments  (narrow)
  *   segments --flatMap--> candidate evidences                  (narrow)
  *   evidences --mapPartitions--> rule predictions              (narrow)
  *   mentions  --> entity table --> CC canonical map            (shuffle: CC)
  *   predictions x canonical map --> triples                    (shuffle: 2 joins)
  *   triples --> write partitioned by pred, bucket-sorted by hash(subj)
  *
  * Everything per-document is one fused `flatMap` over the raw-doc scan —
  * no shuffle until canonicalization. The only shuffles in the whole
  * pipeline are the CC min-aggregations and the final canonical-key joins,
  * all on key columns with map-side combine. This is what survives 1000
  * executors x 100 TB: the dominant cost (tokenize/NER/match) is
  * embarrassingly parallel and scales linearly with input splits.
  */
object Pipeline {

  final case class DocBundle(
      doc: Doc,
      mentions: Array[Mention],
      segments: Array[Segment])

  final case class Prediction(
      evidence_id: String,
      relation: String,
      left_key: String,
      right_key: String,
      answer: Boolean)

  /** Camel-case identifier NER (the code-corpus analog of model NER): two+
    * hump tokens are FUNCTION mentions; run-grouping per reference P6. */
  private val camelRe = java.util.regex.Pattern.compile("(?:[A-Z][a-z0-9]*){2,}")
  val camelNer = new TagRunNer(tok =>
    if (camelRe.matcher(tok).matches()) "FUNCTION" else "O")

  /** Gazette tries are built once per executor JVM, not per partition —
    * at SF=1.0 the gazette is 60k literals and a per-partition build
    * inverted scaling (more partitions = more trie builds). Keyed by
    * broadcast id so different gazettes coexist. */
  private val nerCache =
    new java.util.concurrent.ConcurrentHashMap[String, LiteralNer]()
  private[graft] def nerCacheKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    nerCache.keySet.asScala.toSet
  }
  private[graft] def cachedNerFor(appId: String, bcId: Long,
      build: () => LiteralNer): LiteralNer = {
    val key = appId + ":" + bcId
    if (!nerCache.containsKey(key)) {
      // bound the cache: a JVM holds one ACTIVE SparkContext at a time,
      // so entries keyed by a different appId belong to a stopped
      // session and can never be read again — evict them before
      // inserting (a JVM hosting many sessions over its life, e.g. the
      // test runner or a shared long-lived executor, would otherwise
      // leak one 60k-literal trie per session)
      nerCache.keySet.removeIf(k => !k.startsWith(appId + ":"))
    }
    nerCache.computeIfAbsent(key, _ => build())
  }
  def cachedNer(
      bc: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]]): LiteralNer =
    // broadcast ids restart at 0 for every SparkContext — key by appId
    // too, or a fresh session silently reuses a stale trie
    cachedNerFor(org.apache.spark.SparkEnv.get.conf.getAppId, bc.id,
      () => new LiteralNer(bc.value))

  /** Per-document preprocess: tokenize, sentence-split, POS, lemmas,
    * gazette + camel NER (no-overlap combine, gazette first), dedupe,
    * segment. Pure function — runs as one fused map.
    *
    * `withParses`: a caller that keeps the returned `Doc` gets the
    * per-sentence shallow-parse column (`syntactic_sentences`,
    * reference models.py:86); the fused triple extract passes false —
    * it never stores docs, so building parse strings there would be
    * pure hot-path waste at corpus scale. */
  def preprocessDoc(raw: RawDoc, gazette: LiteralNer,
      withParses: Boolean = true): DocBundle = {
    val docId = s"${raw.repo}/${raw.path}@${raw.commit}"
    val tk = Tokenizer(raw.content)
    val tags = PosTagger.tag(tk.tokens)
    val doc = Doc(
      doc_id = docId, repo = raw.repo, path = raw.path,
      commit = raw.commit, lang = raw.lang, text = raw.content,
      content_sha256 = graft.corpus.CorpusGen.sha256(raw.content),
      tokens = tk.tokens, offsets = tk.spans,
      lemmas = PosTagger.lemmas(tk.tokens),
      postags = tags,
      sentences = tk.sentences,
      parses =
        if (withParses) graft.features.IobChunker.docParses(
          tk.tokens, tags, tk.sentences)
        else Array.empty)
    val gazetteMentions = NerRunner.run(gazette, 0, docId, tk.tokens, tk.sentences)
    val camelMentions = NerRunner.run(camelNer, 1, docId, tk.tokens, tk.sentences)
    val combined = NerRunner.dedupe(
      NerRunner.combineNoOverlap(Seq(gazetteMentions, camelMentions)))
    // P10+P11: in-document coref — surface-identity + pronoun chains
    // produced deterministically, applied with the reference's exact
    // merge semantics (per-chain refusals swallowed like the reference's
    // CoreferenceError log-and-continue). Pure per-doc compute inside
    // the fused map.
    val entOf: Map[String, graft.canonical.CorefMerge.Ent] =
      combined.map(m => m.entity_key -> graft.canonical.CorefMerge.Ent(
        m.entity_key, m.kind,
        if (m.from_gazette) Some(m.alias) else None)).toMap
    val chains = graft.canonical.CorefChains.chains(tk.tokens, combined)
    val merged = graft.canonical.CorefMerge.applyChains(
      docId, tk.tokens, combined, entOf, chains)
    val segments = Segmenter.segmentsOf(doc, merged)
    DocBundle(doc, merged.toArray, segments.toArray)
  }

  /** One doc's extraction output — only what downstream stages need.
    * Token arrays and segments stay inside the fused map and are never
    * cached or shuffled (at 100 TB the doc text never leaves the scan
    * stage). */
  final case class DocExtract(
      doc_id: String,
      predictions: Array[Prediction],
      entities: Array[EntityRow])

  final case class EntityRow(
      entity_key: String, kind: String, alias: String,
      from_gazette: Boolean)

  /** Fused extract: preprocess + candidates + rule match in ONE narrow
    * pass over the raw docs. `truncAcc` counts segments whose candidate
    * pairs hit [[Candidates.MaxPairsPerSegment]] (the cap is a skew
    * guard, never a silent drop — the count surfaces in the run manifest).
    *
    * Cache-footprint contract: the result is what the triple path
    * persists, so it must stay lean — `keepNegatives = false` drops
    * answer=false predictions at the source (the triple join filters
    * them anyway), and entity rows are deduped doc-locally (gazette
    * mentions repeat dozens of times per doc; the global dedup still
    * happens in the entity aggregation). At SF=2 this shrank the cache
    * ~2.5x and removed a heap-pressure nonlinearity that was costing
    * 2x wall time at 8 cores. */
  def extract(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)],
      truncAcc: Option[org.apache.spark.util.LongAccumulator] = None,
      keepNegatives: Boolean = true): Dataset[DocExtract] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(gazette)
    val relations = CodeRules.relations
    raw.mapPartitions { it =>
      val ner = cachedNer(bc)
      val cores = relations.map { case (rel, rules) =>
        (rel, new Rules.RuleCore(rules, rel))
      }
      it.map { rawDoc =>
        val b = preprocessDoc(rawDoc, ner, withParses = false)
        val preds = b.segments.iterator.flatMap { seg =>
          cores.iterator.flatMap { case (rel, core) =>
            val (evs, truncated) = Candidates.evidencesOfCounted(seg, rel)
            if (truncated) truncAcc.foreach(_.add(1))
            evs.iterator.map { ev =>
              Prediction(ev.evidence_id, rel.name, ev.left_key,
                ev.right_key, core.predict(Candidates.tokensToMatch(ev)))
            }.filter(keepNegatives || _.answer)
          }
        }.toArray
        // anaphora occurrences carry the PRONOUN as alias ("it"/"this");
        // feeding that into the entity table would hand the cross-doc CC
        // a surface form shared by every pronoun-referenced entity and
        // collapse them into one component. Their entity_key always has
        // a non-anaphora antecedent mention in the same doc, so skipping
        // them loses no entity.
        val ents = b.mentions.filter(!_.anaphora).map(m =>
          EntityRow(m.entity_key, m.kind, m.alias, m.from_gazette))
          .distinct
        DocExtract(b.doc.doc_id, preds, ents)
      }
    }
  }

  /** One pipeline run: the triples plan, the run metrics (valid after
    * the caller's final action on the triples), the extract batch dir a
    * checkpointed run added (None in memory, and for a no-op resume),
    * and the scope owning the run's caches. */
  final case class RunHandle(
      triples: DataFrame,
      truncatedSegments: org.apache.spark.util.LongAccumulator,
      newExtractBatch: Option[String],
      scope: Caches.Scope) {
    /** Frees this run's caches only; call after the final action. */
    def cleanup(): Unit = scope.release()
  }

  /** [[runWithMetrics]] as (triples, cleanup). */
  def runWithCleanup(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)]): (DataFrame, () => Unit) = {
    val h = runWithMetrics(spark, raw, gazette); (h.triples, () => h.cleanup())
  }

  /** Full in-memory run; the handle's triples are [subj, pred, obj,
    * evidence_id]. */
  def runWithMetrics(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)]): RunHandle =
    runIn(spark, raw, gazette, new Caches.Scope)

  private def runIn(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)], scope: Caches.Scope): RunHandle = {
    val trunc = spark.sparkContext.longAccumulator("truncated_segments")
    // ONE narrow pass over raw docs; only ids/keys/answers are cached —
    // token arrays never leave the extract stage (cache-write of fat doc
    // bundles was the measured non-scaling cost at SF=0.1), negative
    // predictions are dropped at the source (the triple path never
    // reads them), entity rows arrive doc-locally deduped
    val extracted = scope.persist(extract(spark, raw, gazette, Some(trunc),
      keepNegatives = false))
    RunHandle(assembleTriples(spark, extracted, scope), trunc, None, scope)
  }

  /** Global entity dedupe (one row per entity_key) — THE aggregation
    * semantics for entity tables; the streaming incremental linker
    * merges state + batch with the same aggregate, so any accumulation
    * order yields the batch path's table (min/max are associative;
    * kind is constant per key by construction — entity keys either ARE
    * the gazette alias or embed their kind). */
  private[graft] def dedupeEntities(entities: DataFrame): DataFrame =
    entities.groupBy(col("entity_key"))
      .agg(first(col("kind")).as("kind"), min(col("alias")).as("alias"),
        max(col("from_gazette")).as("from_gazette"))

  /** Canonical-key joins: positive predictions x canonical map ->
    * [subj, pred, obj, evidence_id]. The canonical map is
    * distinct-entity-sized and carries no hint: AQE picks the join
    * (broadcast when measured small, shuffle join at true scale). */
  private[graft] def triplesOf(positivePreds: DataFrame,
      canonical: DataFrame): DataFrame = {
    val cn = canonical.withColumnRenamed("entity_key", "k")
    positivePreds
      .join(cn.withColumnRenamed("canonical", "subj"),
        col("left_key") === col("k")).drop("k")
      .join(cn.withColumnRenamed("canonical", "obj"),
        col("right_key") === col("k")).drop("k")
      .select(col("subj"), col("relation").as("pred"), col("obj"),
        col("evidence_id"))
  }

  /** Link + canonicalize + triple assembly over extraction output —
    * shared by the in-memory ([[runWithMetrics]]) and checkpointed
    * ([[runCheckpointed]]) paths. The streaming path assembles its
    * triples from the same pieces ([[dedupeEntities]], [[triplesOf]],
    * `Canonicalize`) directly, since it merges them with carried
    * state. */
  private[graft] def assembleTriples(spark: SparkSession,
      extracted: Dataset[DocExtract], scope: Caches.Scope): DataFrame = {
    import spark.implicits._
    val predictions = extracted.flatMap(_.predictions)
    // entities feed CC three ways (edges, initial components, canonical
    // ranking) — persist to shuffle the mention table once, not thrice
    val entities = scope.persist(
      dedupeEntities(extracted.flatMap(_.entities).toDF()))
    val canonical = scope.persist(Canonicalize.components(spark, entities))
    // Everything above is lazy — the caller's first action runs ONE job:
    // preprocess (cached), CC chain, and the two canonical-key joins.
    triplesOf(predictions.toDF().filter($"answer"), canonical)
  }

  /** Opt-in per-stage checkpointed run (north rule: resumable from
    * checkpoint; reference resumes preprocess per doc,
    * `/root/reference/iepy/data/db.py:94-114`).
    *
    * The EXTRACT stage — tokenize/NER/coref/segment/rule-match, ~all of
    * the pipeline's compute — checkpoints per doc through
    * [[Checkpoint.stage]]: a killed run loses only its uncommitted batch,
    * and a rerun anti-joins the corpus against committed batches and
    * processes ONLY the missing docs. Link/canonicalize/triple-assembly
    * are global (connected components span docs, so any new doc can
    * reshape them) and cheap relative to extract — they recompute from
    * the checkpointed extract table every run. `truncatedSegments`
    * counts only the segments of the docs this run extracted. */
  def runCheckpointed(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)], workDir: String): RunHandle = {
    import spark.implicits._
    val trunc = spark.sparkContext.longAccumulator("truncated_segments")
    val rawWithId = raw.toDF().withColumn("doc_id",
      concat($"repo", lit("/"), $"path", lit("@"), $"commit"))
    val before = Checkpoint.committedBatches(workDir, "extract").toSet
    val extracted = Checkpoint.stage(spark, workDir, "extract", "doc_id",
      rawWithId,
      todo => extract(spark, todo.drop("doc_id").as[RawDoc], gazette,
        Some(trunc), keepNegatives = false).toDF())
      .as[DocExtract]
    val newBatch = Checkpoint.committedBatches(workDir, "extract")
      .filterNot(before).headOption
    val scope = new Caches.Scope
    RunHandle(assembleTriples(spark, extracted, scope), trunc, newBatch, scope)
  }

  /** Full run (convenience). The triples are a lazy plan over the run's
    * caches, so they join the global queue that [[Caches.release]]
    * frees. */
  def run(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)]): DataFrame =
    runIn(spark, raw, gazette, Caches.global).triples

  /** Materialize triples through the resolved [[graft.sources.TripleSink]]
    * (north rule: partitioned, subject-hash-bucketed triple tables).
    * With the Iceberg Spark runtime on the classpath this lands a real
    * bucketed Iceberg table (snapshot-isolated, manifest-pruned); in
    * this sandbox it is the plain-parquet analog — partitionBy(pred) +
    * hash(subj) bucket files + a `_manifest` lineage dir. Run-level
    * `metrics` (e.g. truncated_segments) version with the data either
    * way (`metrics.json` / table properties). */
  def materialize(spark: SparkSession, triples: DataFrame, outDir: String,
      buckets: Int = 32, metrics: Map[String, Long] = Map.empty): Unit =
    graft.sources.TripleSink.resolve()
      .write(spark, triples, outDir, buckets, metrics)
}
