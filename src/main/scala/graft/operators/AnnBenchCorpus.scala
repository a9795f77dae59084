package graft.operators

import org.apache.spark.sql.SparkSession

/** Deterministic CLUSTERED embedding corpus for ANN index-quality
  * measurement (VERDICT r12 task #2).
  *
  * The per-round `ann_recall` telemetry on the sf corpora is
  * un-interpretable as an index-quality signal: those embeddings are
  * i.i.d. random, so NO sublinear index can beat recall ≈ scan
  * fraction there (there is no neighborhood structure to exploit —
  * the r12 verdict's 0.20/0.40 numbers are that floor, not an index
  * defect). Real embedding spaces are clustered; this fixture plants
  * that structure deterministically so "recall ≥ 0.8 while scanning
  * ≤ 0.2 of the corpus" is an achievable, regression-gateable bar.
  *
  * Shape: [[Clusters]] unit-norm Gaussian centers, [[PerCluster]]
  * members each = normalize(center + σ·noise), all from one seeded
  * RNG (same generator discipline as ScaleRehearsal — bit-stable
  * across runs and hosts, nothing derived from time or default
  * seeds). vec_id 0 — the probe every sim_* query targets — is a
  * member of cluster 0, so its true top-k is dominated by cluster-0
  * members and an index that routes to the right cell/bucket finds
  * them. Clusters < IvfK so the coarse quantizer can give each
  * planted cluster its own cell; labels = cluster id mod 10 to match
  * the sf schema's label domain.
  *
  * Written once per (JVM, variant) as `<dir>/embeddings.parquet` —
  * the same layout the sf dirs use, so every registered sim_* query
  * and [[SimilarityQueries.annScanFractions]] run against it
  * unchanged.
  */
object AnnBenchCorpus {
  val Clusters = 12
  val PerCluster = 400
  val Dim = 64

  /** PER-COMPONENT noise σ. The quantity that sets cluster tightness
    * is the noise VECTOR's norm σ·√Dim (≈ 0.34 here), not σ: members
    * are normalize(c + σ·z) with ‖c‖ = 1, so expected in-cluster
    * cosine ≈ 1/(1 + σ²·Dim) ≈ 0.90 — tight enough that semantic
    * near-dups exceed SemTau and true neighbors are in-cluster, while
    * cross-cluster cosine stays near 0. (A first cut used σ = 0.15,
    * which puts the noise norm at 1.2 — LARGER than the center —
    * and quietly produced an almost-unclustered corpus.) */
  val Noise = 0.042
  val Seed = 4213L

  /** Generate (driver-side: ~5k × 64 doubles) and persist the
    * corpus; returns the dataset dir. `perCluster` scales the corpus
    * for spec-speed runs. */
  def ensure(s: SparkSession, perCluster: Int = PerCluster): String = {
    // process-unique path (ADVICE r13, same rationale as
    // IndexStore.indexRoot): a concurrent JVM regenerating the corpus
    // must never overwrite files this one is mid-read on — content is
    // deterministic, but a parquet overwrite is not atomic
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_ann_structured_${graft.sources.IndexStore.processToken}",
      s"pc$perCluster").toString
    graft.core.Artifacts.built(dir, "ann_corpus") {
      val rnd = new java.util.Random(Seed)
      def gaussianVec(): Array[Double] =
        Array.fill(Dim)(rnd.nextGaussian())
      def normalize(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
      val centers = Array.fill(Clusters)(normalize(gaussianVec()))
      val rows = for {
        c <- 0 until Clusters
        i <- 0 until perCluster
      } yield {
        val noise = gaussianVec()
        val e = normalize(centers(c).zip(noise)
          .map { case (x, z) => x + Noise * z })
        (c.toLong * perCluster + i, e.map(_.toFloat).toSeq, c % 10)
      }
      val spark = s
      import spark.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
  }
}
