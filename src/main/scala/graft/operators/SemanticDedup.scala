package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * arXiv:2303.09540): embeddings are clustered by a coarse k-means
  * quantizer, near-duplicates are detected WITHIN each cluster by cosine
  * similarity, and one representative per duplicate group survives. The
  * within-cluster restriction is the published algorithm's scale lever:
  * pair generation is O(sum of cell^2) instead of O(n^2), and cells are
  * the partition key, so nothing cross-cell ever shuffles.
  *
  * Composition of existing scale machinery — the quantizer is
  * [[IvfIndex]] (map-only assignment against broadcast centroids), pair
  * generation is [[BucketedPairs]] keyed by cell (bounded buffers, salted
  * hot buckets, star fallback for monsters), candidate verification is the
  * codegen cosine, and grouping is [[ConnectedComponents]] (near-dup
  * similarity is not transitive; the published method groups via the graph,
  * and a doc's survivor is its component representative = min id).
  */
object SemanticDedup {

  /** Cell size above which a cell's pairs fall back to a star. */
  val MaxCellSize = 4096

  /** Within-cell near-dup pairs: (id_a < id_b, cos >= threshold). Exact
    * within a cell as long as the cell fits `maxCellSize`; beyond it the
    * star fallback keeps the duplicate graph connected through the cell's
    * hub (clustering-equivalent, same discipline as the SimHash lane). */
  def pairs(emb: DataFrame, idCol: String, vecCol: String,
            centroids: Array[Array[Double]], threshold: Double,
            maxCellSize: Int = MaxCellSize): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"bad threshold $threshold")
    val vecs = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val assigned = IvfIndex.assign(vecs, "v", centroids)
    val cand = BucketedPairs.edges(assigned.select("cell", "id"),
      Seq("cell"), "id", cap = maxCellSize)
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(AnnSearch.cosine(col("va"), col("vb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** (id, component) for every embedding — component = min id of the
    * doc's within-cell duplicate group (singletons map to themselves). */
  def clusters(emb: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], threshold: Double,
               maxCellSize: Int = MaxCellSize): DataFrame = {
    val ids = emb.select(col(idCol).cast("long").as(idCol))
    ConnectedComponents.clustersWithSingletons(ids, idCol,
      pairs(emb, idCol, vecCol, centroids, threshold, maxCellSize))
  }

  /** The deduplicated corpus: one representative (min id) per duplicate
    * group, all singletons kept. */
  def survivors(emb: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val comp = clusters(emb, idCol, vecCol, centroids, threshold)
      .filter(col("id") === col("component"))
      .select(col("id"))
    emb.join(comp, emb(idCol).cast("long") === comp("id"), "left_semi")
  }
}
