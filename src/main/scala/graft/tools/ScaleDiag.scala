package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextAnalytics

/** Scale-curve diagnostics for the queries BENCHSCALE flags as
  * super-linear: separates "the OUTPUT grows quadratically with density
  * (operator is output-bound — justified)" from "the CANDIDATE mass
  * grows quadratically (geometry/cut must scale — fix)". One JSON line
  * per (sfDir, probe).
  *
  * Usage: ScaleDiag <sfDir> [sfDir2 ...]
  */
object ScaleDiag {

  def main(args: Array[String]): Unit = {
    val spark = ToolSession()

    args.foreach { dir =>
      // ---- q_tfidf_cosine: candidate mass under the relative df-cut --
      val docs = Tables.documents(spark, dir)
      val tf = docs.select(col("doc_id").as("id"),
          explode(TextAnalytics.tokens(lower(col("text")))).as("term"))
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      val n = docs.count()
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .where(col("df") * 10 <= n)
      val m = dfT.agg(count(lit(1)).as("n_terms"),
          sum((col("df") * (col("df") - 1) / 2).cast("decimal(38,0)"))
            .as("pair_mass"),
          max(col("df")).as("max_df")).head()
      println(s"""{"probe":"tfidf_df_cut","dir":"$dir","n_docs":$n,"n_terms":${m.getLong(0)},"candidate_pairs":${m.getDecimal(1)},"max_df":${m.getLong(2)}}""")

      // ---- LSH band-bucket mass for the two banded queries -----------
      def lshMass(planes: Int, bands: Int, tag: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
        val keys = emb.select(col("vec_id"),
          explode(graft.functions.VectorExpr.signLshBands(
            col("embedding"), planes, bands)).as("bk"))
        val mass = keys.groupBy(col("bk"))
          .agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("decimal(38,0)"))
            .as("pairs"), max(col("c")).as("max_bucket")).head()
        println(s"""{"probe":"$tag","dir":"$dir","planes":$planes,"bands":$bands,"candidate_pairs":${mass.getDecimal(0)},"max_bucket":${mass.getLong(1)}}""")
      }
      lshMass(2, 16, "knn_graph_lsh_mass")
      lshMass(3, 16, "embedding_neardup_lsh_mass")
      // candidate geometries for the auto-scaled band design
      lshMass(4, 16, "lsh_mass_p4b16")
      lshMass(5, 24, "lsh_mass_p5b24")
      lshMass(6, 32, "lsh_mass_p6b32")
      lshMass(7, 48, "lsh_mass_p7b48")
      lshMass(8, 64, "lsh_mass_p8b64")

      // ---- SCALED-geometry candidate mass: the log-n witness ---------
      // Each probe keys the corpus with the EXACT key construction the
      // operator uses (Dedup.lshBandKeyArray / Dedup.hammingKeyArray —
      // shared code, not a re-derivation) at the geometry the operator
      // would solve for THIS corpus size, and reports candidate
      // mass/row: the claim is that the solve holds mass/row at-or-under
      // the nRef base geometry's at EVERY decade, which only multiple
      // decades can witness.
      def bucketMassLine(keys: DataFrame, n: Long, tag: String,
                         geom: String): Unit = {
        val m = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum((col("c") * (col("c") - 1) / 2)
              .cast("decimal(38,0)")),
              lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("pairs"),
            coalesce(max(col("c")), lit(0L)).as("max_bucket")).head()
        val mass = m.getDecimal(0)
        val perRow = mass.doubleValue() / math.max(1L, n)
        println(f"""{"probe":"$tag","dir":"$dir","n":$n,$geom,"candidate_mass":$mass,"mass_per_row":$perRow%.3f,"max_bucket":${m.getLong(1)}}""")
      }
      def scaledLshMass(basePlanes: Int, baseBands: Int, tag: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .where(col("embedding").isNotNull)
        val n = emb.count()
        val (planes, bands) =
          graft.operators.Dedup.scaledBandGeometry(n, basePlanes, baseBands)
        bucketMassLine(
          emb.select(explode(graft.operators.Dedup.lshBandKeyArray(
            col("embedding"), planes, bands)).as("k")),
          n, tag, s""""planes":$planes,"bands":$bands""")
      }
      scaledLshMass(2, 16, "knn_graph_lsh_mass_scaled")
      scaledLshMass(3, 16, "embedding_neardup_lsh_mass_scaled")
      def scaledHammingMass(hashes: DataFrame, maxHamming: Int,
                            tag: String): Unit = {
        val h = hashes.select(col("sh")).localCheckpoint(true)
        val n = h.count()
        val m = graft.operators.Dedup.hammingChunkCount(n, maxHamming)
        bucketMassLine(
          h.select(explode(graft.operators.Dedup.hammingKeyArray(
            col("sh"), m, maxHamming)).as("k")),
          n, tag, s""""m":$m,"max_hamming":$maxHamming""")
      }
      // q_simhash_pairs' geometry on its real input (simhash64 of text)
      scaledHammingMass(
        graft.operators.Dedup.simhashed(docs, "doc_id", "text"),
        maxHamming = 3, tag = "simhash_mass_scaled")
      // q_image_neardup's k=6 geometry on REAL dHash at any decade: the
      // distributed builder renders each task's documents through the
      // same gradPngBytes the driver fixture uses (bit-identical pixels
      // => bit-identical dHash, asserted in MultimodalSpec), so the
      // curve never needs a proxy hash family past the fixture cap
      scaledHammingMass(
        graft.multimodal.Multimodal.dHash64(
          graft.EntryContext.gradPngAssetsDistributed(spark, dir))
          .select(col("dhash").as("sh")),
        maxHamming = 6, tag = "image_neardup_mass_scaled")

      // ---- q_geo_pairs: output cardinality --------------------------
      val pts = Tables.customer(spark, dir).select(col("c_custkey").as("id"),
          (pmod(col("c_custkey") * 37, lit(17000)) / 100.0 - 85.0).as("lat"),
          (pmod(col("c_custkey") * 73, lit(36000)) / 100.0 - 180.0).as("lon"))
        .where(abs(col("lat")) <= 60.0)
      // at the third decade the candidate-mass guard fires by design —
      // record THAT as the probe outcome (the guard firing at the scale
      // it was built for is the evidence)
      try {
        val geoOut = graft.operators.Geo.neighborPairs(pts, col("id"),
          col("lat"), col("lon"), radiusKm = 200.0, cellDeg = 4.0,
          maxAbsLat = 60.0).count()
        println(s"""{"probe":"geo_pairs_output","dir":"$dir","n_points":${pts.count()},"pairs":$geoOut}""")
      } catch { case e: IllegalArgumentException =>
        println(s"""{"probe":"geo_pairs_output","dir":"$dir","n_points":${pts.count()},"guarded":"${e.getMessage.takeWhile(_ != '—').trim}"}""")
      }

      // ---- q_image_neardup: output cardinality ----------------------
      // planted near-dups are linear in docs, but accidental ≤6-bit
      // dHash collisions densify with the corpus — separates
      // output-bound growth from candidate-mass growth
      val assets = spark.read
        .schema(graft.multimodal.Multimodal.assetSchema)
        .parquet(graft.EntryContext.gradPngAssetsFixture(spark, dir))
        .as[graft.multimodal.Multimodal.Asset](
          org.apache.spark.sql.Encoders.product[graft.multimodal.Multimodal.Asset])
      val imgOut = graft.operators.Dedup.hammingPairs(
        graft.multimodal.Multimodal.dHash64(assets), "asset_id", "dhash",
        maxHamming = 6).count()
      println(s"""{"probe":"image_neardup_output","dir":"$dir","pairs":$imgOut}""")

      // ---- documents: input byte growth under the tiling ------------
      // the replica token remap (token → token+"qN") lengthens text, so
      // "linear in input" for text-scanning ops is chars growth, not rows
      val ch = docs.agg(sum(length(col("text"))).as("chars"),
        count(lit(1)).as("rows")).head()
      println(s"""{"probe":"documents_chars","dir":"$dir","rows":${ch.getLong(1)},"chars":${ch.getLong(0)}}""")
    }
    spark.stop()
  }
}
