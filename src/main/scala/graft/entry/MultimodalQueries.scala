package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Baskets, Bpe, Cdc, Classifier, CorpusStats, CountMin, Curation, Dedup, Funnel, Geo, Graphs, HeavyHitters, Intervals, Ivf, Lineage, Packing, Pq, PrefixMatch, Profiling, Retrieval, Sampling, Similarity, Skew, Stats, TemplateFilters, Timeseries}
import graft.functions.{DedupExpr, TextAnalytics}
import graft.EntryContext._

/** Multimodal binary columns: real image/audio decode, perceptual hashing, frame sampling.
  *
  * Declarations (query lambda + DuckDB oracle SQL) are
  * merged into [[SparkEntry]]'s registry; see SURVEY.md
  * §2/§8 and docs/QUERIES.md for the full index.
  */
private[graft] object MultimodalQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // -- multimodal plumbing: opaque binary + deterministic content ids -------
    "q_multimodal_meta" -> ((s, dir) => {
      val bin = col("text").cast("binary")
      Tables.documents(s, dir).select(
          col("doc_id"),
          length(bin).cast("long").as("n_bytes"),
          md5(bin).as("content_md5"),
          substring(md5(bin), 1, 8).as("fp8"))
        .orderBy(col("doc_id"))
    }),

    // -- multimodal: REAL image decode — ImageIO recovers width/height
    // and band luminance from actual PNG payloads; the oracle recomputes
    // them from the arithmetic the fixture used to construct each image
    // (an end-to-end codec correctness check, hash-verified)
    "q_image_decode" -> ((s, dir) => {
      import s.implicits._
      val assets = s.read.schema(graft.multimodal.Multimodal.assetSchema)
        .parquet(pngAssetsFixture(s, dir))
        .as[graft.multimodal.Multimodal.Asset]
      // cut before the global sort: the range partitioner's sampling
      // pass otherwise re-executes the whole decode pipeline a second
      // time (r15 — every codec runs 2x per query without it)
      Lineage.cut(graft.multimodal.Multimodal.imageFeatures(assets, dim = 4)
        .select(col("asset_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("luma")),
          "q_image_decode.rows")
        .orderBy(col("asset_id"))
    }),

    // -- multimodal: perceptual dHash over REAL decoded pixels — the
    // near-dup key for image corpora (robust to re-encode/brightness,
    // integer-exact so bit-reproducible). Hash kernel isn't SQL →
    // rows-only, count + content hash pinned in EntrySpec; kernel
    // properties (copy ⇒ identical hash, perturbation ⇒ few bits,
    // unrelated ⇒ ~32 bits) proven in MultimodalSpec.
    "q_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val assets = s.read.schema(graft.multimodal.Multimodal.assetSchema)
        .parquet(gradPngAssetsFixture(s, dir))
        .as[graft.multimodal.Multimodal.Asset]
      // decode+hash once, not 2x (sort sampling; r15)
      Lineage.cut(graft.multimodal.Multimodal.dHash64(assets), "q_image_dhash.rows")
        .orderBy(col("asset_id"))
    }),

    // -- multimodal: image near-dup pairs — banded-Hamming equi-join
    // over the dHash keys (pigeonhole candidates, exact verify; the
    // simhash plan applied to pixels, no nested-loop join anywhere).
    // The gradient fixture plants a near-dup for every doc_id ≡ 1
    // (mod 10); unrelated textures sit ~32 bits apart.
    "q_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val assets = s.read.schema(graft.multimodal.Multimodal.assetSchema)
        .parquet(gradPngAssetsFixture(s, dir))
        .as[graft.multimodal.Multimodal.Asset]
      Dedup.hammingPairs(
          graft.multimodal.Multimodal.dHash64(assets), "asset_id", "dhash",
          maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // -- multimodal: REAL audio decode — javax.sound.sampled recovers
    // sample rate / frame count / RMS amplitude from actual 16-bit PCM
    // WAV payloads; the oracle recomputes them from the arithmetic the
    // fixture used to construct each file (hash-verified)
    "q_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val assets = s.read.schema(graft.multimodal.Multimodal.assetSchema)
        .parquet(wavAssetsFixture(s, dir))
        .as[graft.multimodal.Multimodal.Asset]
      // cut before the global sort (see q_image_decode; r15)
      Lineage.cut(graft.multimodal.Multimodal.audioFeatures(assets, dim = 4)
        .select(col("asset_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames"),
          col("duration_ms"),
          round(element_at(col("rms"), 1).cast("double"), 6).as("rms1")),
          "q_audio_decode.rows")
        .orderBy(col("asset_id"))
    }),

    // -- multimodal: declarative frame fan-out over synthetic video assets --
    "q_frame_sample" -> ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir)), 3)
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"), col("ts_ms"))
        .orderBy(col("asset_id"), col("frame_idx"))),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q_multimodal_meta" ->
      """SELECT doc_id, cast(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5, substring(md5(text),1,8) AS fp8
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the luma math is double-exact on both sides: Spark folds the
    // integer pixel sum to sum/(rows·w·765) — identical reals to
    // (g*3)/765.0, so both correctly-rounded doubles agree — then the
    // float32 feature round-trips through DuckDB's REAL cast
    "q_image_decode" ->
      """SELECT doc_id AS asset_id,
        |       CAST(doc_id % 64 + 1 AS BIGINT) AS width,
        |       CAST(doc_id % 48 + 1 AS BIGINT) AS height,
        |       round(CAST(CAST((doc_id % 256) * 3 / 765.0 AS REAL) AS DOUBLE), 6) AS luma
        |FROM documents ORDER BY asset_id""".stripMargin,

    // RMS of a constant-sample signal is exactly |v|/32768 (see the
    // fixture scaladoc); the float32 feature round-trips through
    // DuckDB's REAL cast like q_image_decode's luma
    "q_audio_decode" ->
      """SELECT doc_id AS asset_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels,
        |       CAST(doc_id % 800 + 1 AS BIGINT) AS n_frames,
        |       CAST((doc_id % 800 + 1) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |       round(CAST(CAST(abs(doc_id % 20000 - 10000) / 32768.0 AS REAL) AS DOUBLE), 6) AS rms1
        |FROM documents ORDER BY asset_id""".stripMargin,

    "q_frame_sample" ->
      """SELECT doc_id AS asset_id, frame_idx,
        |       cast(floor(frame_idx * duration_ms / 3.0) AS BIGINT) AS ts_ms FROM
        |(SELECT doc_id, unnest(range(3)) AS frame_idx, length(text)*10 AS duration_ms
        | FROM documents) t
        |ORDER BY asset_id, frame_idx""".stripMargin,
  )
}
