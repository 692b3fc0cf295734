package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators._
import graft.plans.Pipeline
import graft.sources.fixtures

/**
 * `batch_pipeline`: graft's flagship lifecycle end to end — one operation
 * is `Pipeline.run` on the production index path (vocab induced from the
 * catalog) plus the triples written as parquet, the job a spark-submit
 * user runs. The traced replay calls the same layers one by one, each
 * result materialized, inside spans.
 */
final class BatchPipeline(size: String, seed: Long) extends Workload {
  private val cfg = size match {
    case "full" => fixtures.Config(nConcepts = 250, nConvs = 10000, seed = seed)
    case "smoke" => fixtures.Config(nConcepts = 100, nConvs = 200, seed = seed)
    case other => sys.error(s"unknown size '$other'")
  }
  private val turnsPerChunk = if (size == "smoke") 50 else 1000
  private var turns: Dataset[Turn] = _
  private var classes: Dataset[ClassText] = _
  private var edges: Dataset[Edge] = _

  /** Write the fixture for this seed and size into `dir`. */
  def generate(spark: SparkSession, dir: String): Unit = {
    fixtures.transcripts(spark, cfg).write.mode("overwrite").parquet(s"$dir/transcripts")
    fixtures.classes(spark, cfg).write.mode("overwrite").parquet(s"$dir/classes")
    fixtures.edges(spark, cfg).write.mode("overwrite").parquet(s"$dir/edges")
  }

  def register(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    turns = spark.read.parquet(s"$dir/transcripts").as[Turn]
    classes = spark.read.parquet(s"$dir/classes").as[ClassText]
    edges = spark.read.parquet(s"$dir/edges").as[Edge]
  }

  /** The untraced operation; returns the final mappings. */
  private def pipelineOnce(spark: SparkSession, out: String): DataFrame = {
    val (mappings, triples) = Pipeline.run(spark, turns, classes, edges,
      Pipeline.Params(wordpieceVocab = Some(Pipeline.induceCatalogVocab(spark, classes))))
    triples.write.mode("overwrite").parquet(out)
    mappings
  }

  def measure(ctx: RunCtx): Measured = {
    val spark = ctx.spark
    val led = new Ledger(ctx.afterOp)
    val out = s"${ctx.work}/triples"
    lazy val nTurns = turns.count()
    var reference: Option[Digest] = None
    def sameAsFirst(d: Digest): Boolean = reference match {
      case None => reference = Some(d); true
      case Some(r) => r == d
    }
    def verify(unused: Any): (Long, Digest) = (nTurns, Digest.of(spark.read.parquet(out)))

    var mappings: DataFrame = null
    var streamJson = "null"
    led.timed("first") { mappings = pipelineOnce(spark, out) }(verify)(sameAsFirst)
    if (mappings != null) quality(spark, mappings, led)

    val tracer = if (!ctx.traced) {
      val t0 = System.nanoTime()
      do led.timed("steady")(pipelineOnce(spark, out))(verify)(sameAsFirst)
      while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)
      None
    } else {
      led.timed("warm")(pipelineOnce(spark, out))(verify)(sameAsFirst)
      val tr = new Tracer
      tr.nextOp()
      var finalMappings: DataFrame = null
      val traced = led.timed("traced") {
        finalMappings = replay(spark, tr, out, led)
      }(verify)(sameAsFirst)
      led.check("trace_digest_equals_untraced", traced.ok,
        s"traced ${traced.digest} vs untraced ${reference.map(_.json).getOrElse("none")}")
      if (finalMappings != null) {
        import spark.implicits._
        val src = classes.filter(col("onto") === "src").collect().toSeq
        streamJson = StreamPhase.run(spark, ctx.work, tr, led, turns, src,
          canonical.matchingComponents(finalMappings), turnsPerChunk)
      }
      Some(tr)
    }
    Measured(led.json(
      "stream" -> Json.Raw(streamJson),
      "fixture" -> Json.Raw(Json.obj(
        "concepts" -> cfg.nConcepts, "convs" -> cfg.nConvs, "seed" -> cfg.seed))), tracer)
  }

  /** Mapping quality against the fixture's reference alignment, with the
    * ignored slice excluded (evalmod.prf): P and R must reach 0.95. */
  private def quality(spark: SparkSession, mappings: DataFrame, led: Ledger): Unit = {
    val ref = fixtures.refMappings(spark, cfg)
    val prf = evalmod.prf(mappings, ref.filter(!col("is_ignored")),
      ref.filter(col("is_ignored")))
    led.count("eval.mapping_f1", prf.f1)
    led.count("eval.precision", prf.p)
    led.count("eval.recall", prf.r)
    led.check("mapping_quality", prf.p >= 0.95 && prf.r >= 0.95,
      f"P=${prf.p}%.4f R=${prf.r}%.4f F1=${prf.f1}%.4f")
  }

  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Extension rounds of an `extend.extendMappings` result: it is the
    * union of one materialized part per round. */
  private def extendRounds(expansion: DataFrame): Int =
    expansion.queryExecution.logical match {
      case u: Union => u.children.size
      case _: LogicalRDD => 1
      case _ => 0
    }

  /**
   * `Pipeline.run` layer by layer, in its order and with its parameters,
   * each result materialized inside a span named `<module>.<step>`. The
   * two alignment directions and the mention branch run one after another
   * here (Pipeline.run overlaps them), so spans do not overlap. Counts
   * taken for the report sit in `trace.count` spans, outside the layer's
   * self time.
   */
  private def replay(spark: SparkSession, tr: Tracer, out: String, led: Ledger): DataFrame = {
    import spark.implicits._
    def counted(name: String)(df: => Long): Long = {
      val n = tr.span("trace.count")(df)
      led.count(name, n.toDouble)
      n
    }
    def ratio(name: String, num: Long, den: Long): Unit =
      led.count(name, if (den == 0) 0.0 else num.toDouble / den)
    val width = spark.sparkContext.defaultParallelism

    tr.span("op") {
      val scanned = tr.span("sources.scan")(ckpt(turns.toDF())).as[Turn]
      val vocabSet = tr.span("vocab.induce")(Pipeline.induceCatalogVocab(spark, classes))
      val p = Pipeline.Params(wordpieceVocab = Some(vocabSet))

      val detected = tr.span("mentions.detect") {
        val dict = classes.filter(col("onto") === "src").collect().toSeq
        ckpt(mentions.detect(spark, scanned, dict).toDF())
      }
      val nDetected = tr.span("trace.count")(detected.count())
      val mens = tr.span("mentions.stabilize")(ckpt(mentions.stabilize(detected, width)))
      val nMens = counted("mentions.rows")(mens.count())
      ratio("mentions.dup_frac", nDetected - nMens, nDetected)

      val (srcLabels, tgtLabels, srcPost, tgtPost) = tr.span("index.postings") {
        val tok = Pipeline.tokenizerFor(spark, p)
        val sl = ckpt(Pipeline.sideLabels(classes, "src"))
        val tl = ckpt(Pipeline.sideLabels(classes, "tgt"))
        (sl, tl, ckpt(Pipeline.sidePostings(sl, p.tokenCut, tok)),
          ckpt(Pipeline.sidePostings(tl, p.tokenCut, tok)))
      }
      val sizes = tr.span("index.candidates") {
        srcLabels.select(lit("src").as("s"), col("id"))
          .unionByName(tgtLabels.select(lit("tgt").as("s"), col("id")))
          .groupBy("s").agg(countDistinct("id").as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      var candPairs, labelPairs, matchPairs, pooledPairs = 0L
      def direction(fromL: DataFrame, toL: DataFrame, fromP: DataFrame,
                    toP: DataFrame, d: Long, fromIsSrc: Boolean): DataFrame = {
        val cands = tr.span("index.candidates") {
          ckpt(index.idfCandidates(fromP.withColumnRenamed("class_id", "query_id"),
            toP, d, p.candidateLimit, p.maxDfFrac, p.saltBuckets,
            broadcastPostings = Some(true), widthHint = width)
            .select(col("query_id").as("from_id"), col("class_id").as("to_id")))
        }
        candPairs += tr.span("trace.count")(cands.count())
        val pairs = cands
          .join(fromL.select(col("id").as("from_id"), col("label").as("l1")), "from_id")
          .join(toL.select(col("id").as("to_id"), col("label").as("l2")), "to_id")
          .select("from_id", "to_id", "l1", "l2")
        val pooled = tr.span("score.score") {
          ckpt(score.scorePooledWithStringMatch(spark, pairs, p.pooling, p.scorer))
        }
        tr.span("trace.count") {
          labelPairs += pairs.count()
          matchPairs += pairs.filter(col("l1") === col("l2"))
            .select("from_id", "to_id").distinct().count()
          pooledPairs += pooled.count()
        }
        tr.span("align.nbest") {
          ckpt(align.orient(align.nBest(score.clamp(pooled), p.nbest), fromIsSrc))
        }
      }
      val s2t = direction(srcLabels, tgtLabels, srcPost, tgtPost,
        sizes.getOrElse("tgt", 0L), fromIsSrc = true)
      val t2s = direction(tgtLabels, srcLabels, tgtPost, srcPost,
        sizes.getOrElse("src", 0L), fromIsSrc = false)
      led.count("index.candidate_pairs", candPairs.toDouble)
      led.count("score.label_pairs", labelPairs.toDouble)
      ratio("score.string_match_frac", matchPairs, pooledPairs)

      val combined = tr.span("align.nbest")(ckpt(align.combine(s2t, t2s)))
      val raw = tr.span("align.nbest")(ckpt(align.atThreshold(combined, p.threshold)))
      val nCombined = tr.span("trace.count")(combined.count())
      val nRaw = counted("align.raw_mappings")(raw.count())
      ratio("align.kept_frac", nRaw, nCombined)

      val (srcEdges, tgtEdges, expansion) = tr.span("extend.extend") {
        val se = ckpt(edges.toDF().filter(col("onto") === "src").select("child_iri", "parent_iri"))
        val te = ckpt(edges.toDF().filter(col("onto") === "tgt").select("child_iri", "parent_iri"))
        val x = extend.extendMappings(spark, raw, se, te, srcLabels, tgtLabels,
          p.kappa, p.maxExtendIter, p.scorer)
        led.count("extend.rounds", extendRounds(x).toDouble)
        (se, te, ckpt(x))
      }
      counted("extend.added")(expansion.count())

      val extended = raw.unionByName(expansion)
        .groupBy("entity1", "entity2").agg(max(col("value")).as("value"))
      val repaired = tr.span("repair.repair") {
        ckpt(repair.repairMappings(extended, srcEdges, tgtEdges))
      }
      tr.span("trace.count") {
        led.count("repair.dropped", (extended.count() - repaired.count()).toDouble)
      }

      val triples = tr.span("canonical.triples") {
        val comps = canonical.matchingComponents(repaired)
        val mensCanon = mens
          .join(broadcast(comps.select(col("id").as("class_iri"), col("canonical"))),
            Seq("class_iri"), "left")
          .select(col("conv_id"), col("turn_idx"), col("onto"),
            coalesce(col("canonical"), col("class_iri")).as("class_iri"), col("surface"))
        val broaderCanon = srcEdges.unionByName(tgtEdges)
          .join(broadcast(comps.select(col("id").as("child_iri"), col("canonical").as("cc"))),
            Seq("child_iri"), "left")
          .join(broadcast(comps.select(col("id").as("parent_iri"), col("canonical").as("cp"))),
            Seq("parent_iri"), "left")
          .select(coalesce(col("cc"), col("child_iri")).as("child_iri"),
            coalesce(col("cp"), col("parent_iri")).as("parent_iri"))
          .filter(col("child_iri") =!= col("parent_iri"))
          .distinct()
        ckpt(canonical.triples(repaired, mensCanon, broaderCanon))
      }
      counted("canonical.triples")(triples.count())
      tr.span("sources.write")(triples.write.mode("overwrite").parquet(out))
      repaired
    }
  }
}
