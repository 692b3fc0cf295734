package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * `vector_ann`: the similarity / dedup / embeds operators through
 * SparkEntry's query battery, over an `embeddings` + `documents` fixture
 * that vectors.py writes. One operation is one pass over the query set,
 * each query's result reduced to its digest (the action). A query's
 * layer is the graft module that implements it.
 */
final class VectorAnn extends Workload {
  private var dir: String = _

  def register(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    VectorAnn.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
  }

  def measure(ctx: RunCtx): Measured = {
    val spark = ctx.spark
    val led = new Ledger(ctx.afterOp)
    val queries = VectorAnn.Queries.map { case (q, _) => q -> SparkEntry.queries(q) }
    var reference: Option[Seq[Digest]] = None
    lazy val inputRows = VectorAnn.Tables.map(t => spark.table(t).count()).sum
    // wall seconds of each query, pass by pass (report only, no metric)
    val queryWalls = scala.collection.mutable.ArrayBuffer[Seq[Double]]()

    def pass(tr: Option[Tracer]): Seq[Digest] = {
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      val out = queries.map { case (q, fn) =>
        def one: Digest = Digest.of(fn(spark, dir))
        val t0 = System.nanoTime()
        val d = tr.map(_.span(s"${VectorAnn.module(q)}.${VectorAnn.short(q)}")(one)).getOrElse(one)
        walls += (System.nanoTime() - t0) / 1e9
        d
      }
      queryWalls += walls.toSeq
      out
    }
    def timedPass(kind: String, tr: Option[Tracer]): OpRecord = {
      var digests: Seq[Digest] = Nil
      led.timed(kind) {
        digests = tr.map(t => t.span("op")(pass(tr))).getOrElse(pass(None))
      } { _ => (inputRows, Digest(digests.map(_.rows).sum, digests.map(_.hash).sum)) } { _ =>
        reference match {
          case None => reference = Some(digests); true
          case Some(r) =>
            val bad = queries.map(_._1).zip(r.zip(digests)).filter { case (_, (a, b)) => a != b }
            bad.foreach { case (q, (a, b)) =>
              led.check(s"digest_$q", ok = false, s"${b.json} vs first pass ${a.json}")
            }
            bad.isEmpty
        }
      }
    }

    timedPass("first", None)
    val tracer = if (!ctx.traced) {
      val t0 = System.nanoTime()
      do timedPass("steady", None) while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)
      None
    } else {
      timedPass("warm", None)
      val tr = new Tracer
      tr.nextOp()
      val traced = timedPass("traced", Some(tr))
      led.check("trace_digest_equals_untraced", traced.ok, traced.digest)
      Some(tr)
    }
    Measured(led.json(
      "queries" -> Json.Raw(Json.arr(VectorAnn.Queries.map { case (q, m) =>
        Json.obj("query" -> q, "module" -> m, "metric" -> s"$m.${VectorAnn.short(q)}")
      })),
      "query_walls_s" -> Json.Raw(Json.arr(queryWalls.map(w => Json.arr(w.map(_.toString)))))), tracer)
  }
}

object VectorAnn {
  val Tables: Seq[String] = Seq("embeddings", "documents")

  /** The battery's vector queries, each with the graft module it
    * exercises, chosen so that a pass is short enough to repeat in two
    * fresh JVMs per run: brute-force top-k (q25), embedding
    * near-duplicates (q27) and embeds-mode alignment (q49). The IVF,
    * k-means, PQ and IVF-PQ queries (q26, q55, q57, q65, q66) are left out
    * because each one's cold and steady cost would push a run past its
    * share of the time budget; q69 (LSH) and q75 (semantic dedup) for the
    * same reason; q23 and q60 because on the battery's sf0.1 tables each
    * alone takes about as long as the other ten together. */
  val Queries: Seq[(String, String)] = Seq(
    "q25_ann_bruteforce" -> "similarity",
    "q27_embed_neardup" -> "dedup",
    "q49_embeds_align" -> "embeds")

  def module(q: String): String = Queries.find(_._1 == q).map(_._2).get
  def short(q: String): String = q.takeWhile(_ != '_')
}
