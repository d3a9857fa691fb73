package graft.perfbench

import graft.dedup.Dedup
import graft.embed.Embed
import graft.functions.VectorF
import graft.search.{GraphAnn, IVF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Geometry of one index set. */
final case class IndexParams(ivfK: Int, refineIters: Int, graphParts: Int,
                             nprobe: Int, graphM: Int = 8, graphEf: Int = 48,
                             regBuckets: Int = 16)

/** One on-disk index set over a corpus: the embedding table (`emb`:
  * doc_id, vec, dpv), IVF, graph, BM25 postings and the MinHash band
  * register — the artifacts the engine's serving and ingest paths
  * read. Paths live under `root`; the postings table is registered in
  * the session catalog as `table`. */
final class IndexSet(env: Env, val root: String, val table: String,
                     val p: IndexParams, val withGraph: Boolean, val withRegister: Boolean) {
  import IndexSet._
  private def spark = env.spark
  val emb = s"$root/emb"
  val ivf = s"$root/ivf"
  val graph = s"$root/graph"
  val postings = s"$root/post"
  val register0 = s"$root/reg"
  /** The register's live generation: compaction and revive-driven
    * appends return a new path, which the caller threads. */
  var register: String = register0

  def vecs: DataFrame = spark.read.parquet(emb).select(col("doc_id"), col("vec"))
  def dpVecs: DataFrame = spark.read.parquet(emb).select(col("doc_id"), col("dpv"))
  def post: DataFrame = spark.table(table)
  def postLive: String = graft.Queries.postingsLivePath(spark, table)

  /** Build the set's artifacts from the docs at `docsPath` (doc_id,
    * text, atext): the graph only when serving reads it, the register
    * only when ingest gates on it. In a traced run the IVF build is
    * split into its train and assign/write halves, each its own span,
    * and checked against an untraced `IVF.writeIndex` of the same
    * vectors; untraced it is the one `IVF.writeIndex` call a user
    * makes. */
  def build(docsPath: String): Unit = {
    val docs = spark.read.parquet(docsPath)
    env.span("embed.corpus") {
      // spread the (single-file) corpus over every core before the
      // CPU-bound embed; the written table then reads back in parallel
      Embed.embedDocsAttr(docs.repartition(env.cpus, col("doc_id")),
          "doc_id", "text", "atext", env.embedder, env.attrEmbedder)
        .select(col("doc_id"), col("vec"), dpVector(col("vec"), col("avec"), col("doc_id")).as("dpv"))
        .write.mode("overwrite").parquet(emb)
    }
    if (env.tracer.enabled) {
      val cents = env.span("ivf.train") {
        IVF.refine(vecs, "doc_id", "vec", IVF.centroids(vecs, "doc_id", "vec", p.ivfK),
          p.refineIters).localCheckpoint()
      }
      env.span("ivf.assign_write") {
        graft.FileTree.delete(new java.io.File(ivf))
        graft.FileTree.delete(IVF.appendLedger(ivf))
        IVF.writeIndexFrom(cents, IVF.assignAuto(vecs, "doc_id", "vec", cents, p.ivfK), ivf)
      }
      env.untraced {
        val ref = s"$root/ivf_ref"
        IVF.writeIndex(vecs, "doc_id", "vec", p.ivfK, p.refineIters, ref)
        env.check("the split IVF build equals IVF.writeIndex")(ivfHashes(ivf) == ivfHashes(ref))
        graft.FileTree.delete(new java.io.File(ref))
        graft.FileTree.delete(IVF.appendLedger(ref))
      }
    } else IVF.writeIndex(vecs, "doc_id", "vec", p.ivfK, p.refineIters, ivf)
    if (withGraph) env.span("graph.build") {
      GraphAnn.writeIndex(vecs, "doc_id", "vec", p.graphM, p.graphEf, p.graphParts, graph)
    }
    env.span("lexical.build") {
      graft.Queries.writePostings(spark, docs.select(col("doc_id"), col("text")),
        table, postings, "overwrite")
    }
    if (withRegister) env.span("dedup.build") {
      register = register0
      Dedup.writeRegister(bands(docs), register0, p.regBuckets)
    }
  }

  /** Banded MinHash signatures with their register bucket. */
  def bands(docs: DataFrame): DataFrame =
    Dedup.bandedSignatures(docs, "doc_id", "text", ShingleN, NPerm, RowsPerBand)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(p.regBuckets)))

  /** Index bytes on disk (parquet files of every artifact). */
  def bytes: Long =
    Seq(Some(ivf), if (withGraph) Some(graph) else None, Some(postings),
      if (withRegister) Some(register0) else None).flatten.map { p =>
      val parent = new java.io.File(p).getParentFile
      val base = new java.io.File(p).getName
      Option(parent.listFiles()).toSeq.flatten
        .filter(f => f.getName == base || f.getName.startsWith(base + "__"))
        .map(f => Env.dirBytes(f.getPath)).sum
    }.sum

  /** Content hashes of an IVF index's live lists and centroids. */
  private def ivfHashes(path: String): Seq[String] = {
    val (ln, cn) = IVF.currentGeneration(path)
    Seq(Env.contentHash(spark.read.parquet(s"$path/$ln")),
      Env.contentHash(spark.read.parquet(s"$path/$cn")))
  }
}

object IndexSet {
  val ShingleN = 3; val NPerm = 16; val RowsPerBand = 4

  /** The DP document vector of the reference's DP mode: text vector
    * and noised attribute vector, weighted 0.7/0.3, renormalized. */
  def dpVector(vec: org.apache.spark.sql.Column, avec: org.apache.spark.sql.Column,
               id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    VectorF.l2normalize(VectorF.weightedConcat(vec, 0.7,
      VectorF.addNoise(avec, id, 0.15), 0.3))
}
