package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents/embeddings/events
  * tables: text analysis, dedup, similarity search, multimodal plumbing,
  * and a Structured Streaming windowed aggregation. Oracle SQL mirrors the
  * exact arithmetic (integer-scaled dots, deterministic double trees) so
  * results hash-match DuckDB; operators whose candidate generation is
  * inherently non-SQL (MinHash LSH, SimHash, LSH ANN) are rows-only here
  * and recall-tested in DedupSpec.
  */
object PipelineQueries extends QueryPack {

  // --------------------------------------------------------- text analysis

  private def textStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.stopwordCount(col("text")).as("n_stop"),
      TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val stopListSql =
    TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  private val textStatsSql =
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS BIGINT) AS n_stop,
       |  CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |  (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END)
       |  + (CASE WHEN CAST(len(list_filter(toks, x -> x IN $stopListSql)) AS DOUBLE)
       |          / CAST(len(toks) AS DOUBLE) >= 0.01 THEN 0.3 ELSE 0.0 END)
       |  + (CASE WHEN CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |          BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END) AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  private def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  private val textLangIdSql = {
    def hits(lang: String) = {
      val lst = TextAnalysis.StopwordsByLang(lang)
        .map(w => s"'$w'").mkString("(", ",", ")")
      s"len(list_filter(string_split(text, ' '), x -> x IN $lst))"
    }
    // same fold order as TextAnalysis.langId: de, en, fr; later wins only
    // if strictly greater; all-zero → 'und'
    s"""WITH v AS (SELECT doc_id, ${hits("de")} AS vde, ${hits("en")} AS ven,
       |  ${hits("fr")} AS vfr FROM documents)
       |SELECT doc_id,
       |  CASE WHEN GREATEST(vde, ven, vfr) = 0 THEN 'und'
       |       WHEN vfr > GREATEST(vde, ven) THEN 'fr'
       |       WHEN ven > vde THEN 'en'
       |       ELSE 'de' END AS lang_pred
       |FROM v ORDER BY doc_id""".stripMargin
  }

  private def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.shingleCount(col("text"), 3).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  private val textFingerprintSql =
    """SELECT doc_id, md5(text) AS fp,
      |  CAST(len(list_distinct(list_transform(
      |    range(0, GREATEST(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))))
      |    AS BIGINT) AS n_shingles
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- dedup

  /** corpus with planted exact duplicates (ids shifted by 1e6) */
  private def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text")))
  }

  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(dupCorpus(spark, dir), "doc_id", "text")
      .orderBy(col("keeper"))

  private val dedupExactSql =
    """SELECT MIN(doc_id) AS keeper, COUNT(*) AS dup_count
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 1000000, text FROM documents) u
      |GROUP BY text ORDER BY keeper""".stripMargin

  /** exact n-gram Jaccard on planted near-dup pairs (one token appended) */
  private def dedupNgramJaccard(spark: SparkSession,
      dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select("doc_id", "text")
    val mutated = d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz_mutation")).as("text"))
    val corpus = d.unionByName(mutated)
    val pairs = corpus.select(col("doc_id").as("id_a"))
      .filter(col("id_a") < 1000000L)
      .withColumn("id_b", col("id_a") + 1000000L)
    Dedup.verifyJaccard(corpus, "doc_id", "text", pairs, 3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jacc"))
      .filter(col("jacc") >= 0.5)
      .orderBy(col("id_a"))
  }

  private val dedupNgramJaccardSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz_mutation' FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, GREATEST(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))) AS s
      |  FROM corpus)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jacc
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
      |WHERE a.doc_id < 1000000
      |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |ORDER BY id_a""".stripMargin

  /** MinHash LSH near-dups. The LSH candidate generation itself is not
    * SQL-expressible, but the VERIFIED output (pairs with exact Jaccard ≥
    * threshold) is deterministic and equals DuckDB's all-pairs answer
    * whenever LSH recall is 1 on the corpus — which banded b=16/r=4 at
    * J≈0.9 gives (miss probability ≈ 4e-8/pair); so the all-pairs SQL is
    * the oracle. */
  private def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select("doc_id", "text")
    val mutated = d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz_mutation")).as("text"))
    Dedup.minhashDuplicates(d.unionByName(mutated), "doc_id", "text",
      threshold = 0.7)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jacc"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupMinhashSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz_mutation' FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, GREATEST(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))) AS s
      |  FROM corpus)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jacc
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash block-then-verify near-dups: 4-bit-chunk blocking guarantees
    * every pair within Hamming 15 becomes a candidate (true near-dup
    * pairs here peak at Hamming 13), and the exact-Jaccard refine makes
    * the output engine-portable — the oracle is the all-pairs Jaccard
    * answer, reached without an n² plan. Raw signature output stays
    * spec-checked in DedupSpec. */
  private def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select("doc_id", "text")
    val mutated = d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz_mutation")).as("text"))
    Dedup.simhashDuplicatesVerified(d.unionByName(mutated), "doc_id",
      "text", threshold = 0.7, maxDistance = 15, numChunks = 16)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jacc"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------ similarity

  private val scaledSqlFrag =
    "list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT))"

  private def embedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", qv, 20)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
  }

  private val embedTopKSql =
    s"""WITH s AS (SELECT vec_id, $scaledSqlFrag AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM s WHERE vec_id = 0),
       |d AS (SELECT vec_id,
       |  CAST(list_aggregate(list_transform(list_zip(v, qv),
       |       p -> p[1] * p[2]), 'sum') AS DOUBLE)
       |  / (SQRT(CAST(list_aggregate(list_transform(v, x -> x*x), 'sum') AS DOUBLE))
       |   * SQRT(CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS DOUBLE)))
       |  AS score
       |  FROM s, q WHERE vec_id <> 0)
       |SELECT vec_id, ROUND(score, 9) AS score FROM d
       |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin

  /** all-pairs cosine near-dup over corpus with planted exact copies —
    * exact output (same as the n² oracle SQL) but computed through the
    * centroid-angle-blocked join, so the plan has no cross product */
  private def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings.select("vec_id", "embedding")
    val planted = e.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    Similarity.nearDupPairsBlocked(e.unionByName(planted), "vec_id",
      "embedding", threshold = 0.99)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val embedNearDupSql =
    s"""WITH u AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
       |s AS (SELECT vec_id, $scaledSqlFrag AS v FROM u),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  CAST(list_aggregate(list_transform(list_zip(a.v, b.v),
       |       p -> p[1] * p[2]), 'sum') AS DOUBLE)
       |  / (SQRT(CAST(list_aggregate(list_transform(a.v, x -> x*x), 'sum') AS DOUBLE))
       |   * SQRT(CAST(list_aggregate(list_transform(b.v, x -> x*x), 'sum') AS DOUBLE)))
       |  AS score
       |  FROM s a, s b WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b FROM p WHERE score >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** Corpus + 20 planted copies of the query vector: the ANN retrieval
    * case (find the near-neighbors that exist), where probe-recall is
    * total and the oracle is the exact brute-force top-k in SQL. The
    * background corpus is near-random (natural neighbors are not
    * probe-recallable by ANY sublinear index); recall on that regime
    * stays spec-measured in DedupSpec. */
  private def annCorpusAndQuery(spark: SparkSession,
      dir: String): (DataFrame, Array[Float]) = {
    val e = Tables(spark, dir).embeddings
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val planted = spark.range(1, 21)
      .select((col("id") + 200000L).as("vec_id"),
        typedLit(qv.toSeq).as("embedding"))
    (e.filter(col("vec_id") =!= 0).select("vec_id", "embedding")
      .unionByName(planted), qv)
  }

  private val annTopKSql =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
       |      UNION ALL
       |      SELECT 200000 + t.i AS vec_id, q.embedding
       |      FROM q, RANGE(1, 21) t(i)),
       |s AS (SELECT vec_id, $scaledSqlFrag AS v FROM u),
       |qs AS (SELECT $scaledSqlFrag AS qv FROM q),
       |d AS (SELECT vec_id,
       |  CAST(list_aggregate(list_transform(list_zip(v, qv),
       |       p -> p[1] * p[2]), 'sum') AS DOUBLE)
       |  / (SQRT(CAST(list_aggregate(list_transform(v, x -> x*x), 'sum') AS DOUBLE))
       |   * SQRT(CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS DOUBLE)))
       |  AS score
       |  FROM s, qs)
       |SELECT vec_id, ROUND(score, 9) AS score FROM d
       |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin

  /** LSH-bucketed ANN over the planted-neighbor corpus — the probe scans
    * only the query bucket + Hamming-1 neighbors, yet returns the exact
    * top-k (oracle = brute force in DuckDB). */
  private def embedLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, qv) = annCorpusAndQuery(spark, dir)
    Similarity.lshTopK(corpus, "vec_id", "embedding", qv, 20)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
  }

  /** IVF coarse-quantized ANN over the planted-neighbor corpus — probes
    * nprobe=4 of 16 cluster partitions and still returns the exact top-k
    * (oracle = brute force in DuckDB); the reindex-once scale path. */
  private def embedIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, qv) = annCorpusAndQuery(spark, dir)
    Similarity.ivfTopK(corpus, "vec_id", "embedding", qv, 20)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
  }

  // ------------------------------------------------------------ multimodal

  /** Opaque-binary media column plumbing: schema (id, media BINARY, meta),
    * byte-level features; the real decode is a stubbed deterministic
    * feature extractor (no image/audio libs in this container) — the
    * Spark-side schema, batching and partitioning are real. */
  private def multimodalFeatures(spark: SparkSession,
      dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val media = d.select(col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(col("lang"), col("source")).as("meta"))
    media.select(
      col("doc_id"),
      octet_length(col("media")).cast("long").as("n_bytes"),
      ascii(substring(col("media").cast("string"), 1, 1)).cast("long")
        .as("first_byte"),
      col("meta.lang").as("lang"))
      .orderBy(col("doc_id"))
  }

  private val multimodalFeaturesSql =
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** One grayscale PNG per document, pixels a closed-form function of
    * doc_id (so the oracle can replay the raster in SQL) and dimensions
    * varying per row — the media fixture for the REAL codec path. */
  private def docImages(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables(spark, dir).documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (4 + id % 3).toInt
        (id, Multimodal.encodeGrayPng(w, h,
          (x, y) => ((id * 31 + (y * w + x)) % 256).toInt))
      })
  }

  /** Animated-GIF fixtures: a REAL multi-frame container per document,
    * frame pixels from a closed-form rule the oracle replays. */
  private def docVideos(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables(spark, dir).documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (4 + id % 3).toInt
        val nf = (3 + id % 4).toInt
        (id, Multimodal.encodeGrayGif(w, h, nf,
          (f, x, y) => ((id * 31 + f * 7 + (y * w + x)) % 256).toInt))
      })
  }

  /** REAL frame sampling from a multi-frame container (animated GIF via
    * ImageIO): every 2nd frame decodes to geometry + a pixel checksum
    * the oracle recomputes from the frame rule — the video analog of
    * multimodal_decode. */
  private def multimodalVideo(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(docVideos(spark, dir), stride = 2)
      .select(col("id").as("doc_id"), col("n_frames"), col("frame_no"),
        col("width"), col("height"), col("frame_checksum"), col("ok"))
      .orderBy(col("doc_id"), col("frame_no"))

  private val multimodalVideoSql =
    """WITH g AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
      |                  3 + doc_id % 4 AS nf FROM documents),
      |f AS (SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS fr FROM g)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(fr AS BIGINT) AS frame_no, CAST(w AS BIGINT) AS width,
      |  CAST(h AS BIGINT) AS height,
      |  CAST(list_aggregate(list_transform(range(0, w * h),
      |    p -> (p + 1) * ((doc_id * 31 + fr * 7 + p) % 256)), 'sum')
      |    % 1000000007 AS BIGINT) AS frame_checksum,
      |  TRUE AS ok
      |FROM f ORDER BY doc_id, frame_no""".stripMargin

  /** WAV fixtures: a real RIFF/WAVE byte stream per document, samples
    * from a closed-form rule the oracle replays. */
  private def docAudio(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables(spark, dir).documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 37).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 131 + i * 17) % 4001 - 2000).toShort)
        (id, Multimodal.encodePcmWav(8000, samples))
      })
  }

  /** REAL audio decode via the JDK javax.sound.sampled WAV codec — the
    * audio twin of multimodal_decode: RIFF bytes → PCM frames → integer
    * clip features (peak, energy, position checksum) the oracle
    * recomputes from the sample rule. */
  private def multimodalAudio(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudio(docAudio(spark, dir))
      .select(col("id").as("doc_id"), col("sample_rate"),
        col("n_samples"), col("duration_ms"), col("peak_abs"),
        col("energy_mod"), col("sample_checksum"), col("ok"))
      .orderBy(col("doc_id"))

  private val multimodalAudioSql =
    """WITH g AS (SELECT doc_id, 50 + doc_id % 37 AS n FROM documents),
      |s AS (SELECT doc_id, n,
      |  list_transform(range(0, n),
      |    i -> (doc_id * 131 + i * 17) % 4001 - 2000) AS samp FROM g)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(list_max(list_transform(samp, x -> abs(x))) AS BIGINT)
      |    AS peak_abs,
      |  CAST(list_aggregate(list_transform(samp, x -> x * x), 'sum')
      |    % 1000000007 AS BIGINT) AS energy_mod,
      |  CAST(list_aggregate(list_transform(range(0, n),
      |    i -> (i + 1) * (samp[i + 1] + 32768)), 'sum')
      |    % 1000000007 AS BIGINT) AS sample_checksum,
      |  TRUE AS ok
      |FROM s ORDER BY doc_id""".stripMargin

  /** REAL image decode via the JDK ImageIO PNG codec inside
    * `mapPartitions` (the mapInPandas analog): bytes → raster → a
    * position-weighted pixel checksum the oracle recomputes from the
    * closed-form pixel rule. Grayscale PNG is lossless, so decoded
    * samples equal encoder input exactly. */
  private def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(docImages(spark, dir))
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("pix_checksum"), col("ok"))
      .orderBy(col("doc_id"))

  private val multimodalDecodeSql =
    """WITH g AS (SELECT doc_id, 4 + doc_id % 5 AS width,
      |                  4 + doc_id % 3 AS height FROM documents)
      |SELECT doc_id, width, height,
      |  CAST(list_aggregate(list_transform(range(0, width * height),
      |    p -> (p + 1) * ((doc_id * 31 + p) % 256)), 'sum')
      |    % 1000000007 AS BIGINT) AS pix_checksum,
      |  TRUE AS ok
      |FROM g ORDER BY doc_id""".stripMargin

  /** Decode → nearest-neighbor half-scale → re-encode → decode again
    * (full codec round trip per row); the oracle replays the sampled
    * raster ((2x, 2y) source pixels) from the pixel rule. The re-encoded
    * byte count is real but encoder-dependent, so it stays out of the
    * compared columns. */
  private def multimodalResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeHalfImages(docImages(spark, dir))
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("new_width"), col("new_height"), col("resized_checksum"),
        col("ok"))
      .orderBy(col("doc_id"))

  private val multimodalResizeSql =
    """WITH g AS (SELECT doc_id, 4 + doc_id % 5 AS w,
      |                  4 + doc_id % 3 AS h FROM documents),
      |r AS (SELECT doc_id, w, h, GREATEST(w // 2, 1) AS w2,
      |             GREATEST(h // 2, 1) AS h2 FROM g)
      |SELECT doc_id, w AS width, h AS height,
      |  w2 AS new_width, h2 AS new_height,
      |  CAST(list_aggregate(list_transform(range(0, w2 * h2),
      |    i -> (i + 1) * ((doc_id * 31
      |         + ((i // w2) * 2 * w + (i % w2) * 2)) % 256)), 'sum')
      |    % 1000000007 AS BIGINT) AS resized_checksum,
      |  TRUE AS ok
      |FROM r ORDER BY doc_id""".stripMargin

  /** Stubbed frame sampling: each media payload splits into 4 frames
    * (byte slices standing in for video frames); per-frame sizes are
    * oracle-checked, the slice contents flow through the typed pipeline. */
  private def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir).documents
    val media = d.select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[(Long, Array[Byte])]
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      val n = 4
      val base = bytes.length / n
      val rem = bytes.length % n
      var off = 0
      (0 until n).map { i =>
        val len = base + (if (i < rem) 1 else 0)
        val frame = bytes.slice(off, off + len) // the real per-frame bytes
        off += len
        (id, i.toLong, frame.length.toLong)
      }
    }).toDF("doc_id", "frame_no", "frame_len")
      .orderBy(col("doc_id"), col("frame_no"))
  }

  private val multimodalFramesSql =
    """SELECT d.doc_id, t.frame_no,
      |  (STRLEN(d.text) + 3 - t.frame_no) // 4 AS frame_len
      |FROM documents d, RANGE(4) t(frame_no)
      |ORDER BY d.doc_id, t.frame_no""".stripMargin

  // ------------------------------------------------------------- streaming

  /** Structured Streaming windowed aggregation over the events table
    * (AvailableNow trigger, memory sink) — oracle is the equivalent batch
    * SQL, i.e. streaming/batch equivalence is the check. */
  private def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // file-stream source wants a directory: expose the single events file
    // through a temp dir symlink
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(Tables(spark, dir).eventsRawPath))
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.QueryDsl.sl2(col("value"))).as("sv"))
    val qn = s"strw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qn)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("n"),
        (col("sv").cast("double") / 100.0).as("total_value"))
      .orderBy(col("hr"), col("event_type"))
  }

  private val streamWindowSql =
    s"""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
       |  event_type, COUNT(*) AS n,
       |  ${graft.QueryDsl.oLsum(graft.QueryDsl.oSl2("value"), "100.0")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** Stream-stream interval join (click→purchase attribution): two
    * watermarked event streams joined per user with an event-time range
    * (purchase within 30 min after the click) — the canonical Structured
    * Streaming stateful join; state is bounded by the watermark + range so
    * it cannot grow without limit on an unbounded source. Oracle is the
    * identical batch self-join, i.e. streaming/batch equivalence is the
    * check. Scale shape: both sides shuffle once on user_id; per-key state
    * holds ≤ watermark-window of rows. */
  private def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def src(): DataFrame = {
      val d = java.nio.file.Files.createTempDirectory("graft-sjoin")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"),
        java.nio.file.Paths.get(Tables(spark, dir).eventsRawPath))
      spark.readStream.schema(schema).parquet(d.toString)
    }
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = src().filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 hour")
    val j = clicks.as("c").join(buys.as("b"),
      col("c.user_id") === col("b.user_id") &&
        col("b.buy_ts") > col("c.click_ts") &&
        col("b.buy_ts") <= col("c.click_ts") + expr("INTERVAL 30 MINUTES"),
      "inner")
    val qn = s"strj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = j.select(col("c.user_id").as("user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qn)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .orderBy(col("user_id"))
  }

  private val streamJoinSql =
    """SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  /** Streaming ingestion INTO the lake (LakeSink foreachBatch sink with
    * idempotent batch tracking), verified by aggregating the landed table
    * against batch SQL over the source. */
  private def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ingest-src")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(Tables(spark, dir).eventsRawPath))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val work = java.nio.file.Files.createTempDirectory("graft-ingest")
    val lake = graft.catalog.Lake.attachEphemeral(spark, work.toString)
    lake.createTable("ev", stream.schema)
    graft.streaming.LakeSink.ingestAvailable(lake, "ev", stream,
      s"ing_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      s"$work/ckpt")
    LakeQueries.detached(lake, lake.table("ev")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nu"))
      .orderBy(col("event_type")))
  }

  private val streamIngestSql =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS nu
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Streaming UPSERT into the lake: each micro-batch is reduced to its
    * latest row per user (max (ts, event_id) — deterministic tie-break)
    * and MERGEd into the target keyed on user_id, matched rows updated
    * only when the incoming event is newer. The lake table converges to
    * last-event-per-user regardless of batch boundaries — the streaming
    * twin of a CDC `apply_changes` sink (Delta-style foreachBatch merge).
    * Scale: each batch shuffles O(distinct users in batch); the merge
    * rewrites only files holding matched users. */
  private def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // re-chunk the source into 4 ts-ranged files and feed them one per
    // micro-batch, so the cross-batch newer-than merge gate is exercised
    val srcDir = java.nio.file.Files.createTempDirectory("graft-upsert-src")
    spark.read.schema(schema).parquet(Tables(spark, dir).eventsRawPath)
      .repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(srcDir.toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    val work = java.nio.file.Files.createTempDirectory("graft-upsert")
    val lake = graft.catalog.Lake.attachEphemeral(spark, work.toString)
    lake.createTable("last_ev", StructType(Seq(
      StructField("user_id", LongType), StructField("last_ts", TimestampType),
      StructField("last_event_id", LongType),
      StructField("last_type", StringType),
      StructField("last_value", DoubleType))))
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch-local last row per user: max of the (ts, event_id, …)
        // struct orders by ts then event_id lexicographically
        val latest = batch.groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("last_ts"),
            col("m.event_id").as("last_event_id"),
            col("m.event_type").as("last_type"),
            col("m.value").as("last_value"))
        lake.merge("last_ev", latest, "user_id",
          whenMatchedUpdate = Some(Map(
            "last_ts" -> col("s.last_ts"),
            "last_event_id" -> col("s.last_event_id"),
            "last_type" -> col("s.last_type"),
            "last_value" -> col("s.last_value"))),
          matchedCondition = Some(col("s.last_ts") > col("t.last_ts") ||
            (col("s.last_ts") === col("t.last_ts") &&
              col("s.last_event_id") > col("t.last_event_id"))),
          whenNotMatchedInsert = true)
        ()
      }
      .start()
    q.awaitTermination()
    LakeQueries.detached(lake,
      lake.table("last_ev").orderBy(col("user_id")))
  }

  private val streamUpsertSql =
    """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
      |  event_type AS last_type, value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------- k-means

  /** Distributed k-means assignment ([[Similarity.kMeans]]): integer
    * centroids + long squared-L2 make every Lloyd round bit-reproducible,
    * so the DuckDB oracle replays all three rounds as unrolled CTEs and
    * the final 500-row assignment hash-matches exactly. */
  private def embedKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.kMeans(e, "vec_id", "embedding", k = 8, iters = 3)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** one unrolled Lloyd round: assign to nearest centroid (argmin long
    * squared-L2, ties to smaller cluster), then integer-mean update with
    * empty clusters carrying the previous centroid */
  private def kmeansRoundSql(i: Int, prev: String): String =
    s"""a$i AS (SELECT vec_id, cl FROM (
       |  SELECT s.vec_id, c.cl, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY list_aggregate(list_transform(list_zip(s.v, c.cv),
       |      q -> (q[1]-q[2])*(q[1]-q[2])), 'sum'), c.cl) AS rn
       |  FROM s, $prev c) t WHERE rn = 1),
       |e$i AS (SELECT a.cl, unnest(range(1, len(s.v)+1)) AS idx,
       |               unnest(s.v) AS val
       |        FROM a$i a JOIN s USING (vec_id)),
       |g$i AS (SELECT cl, idx, SUM(val) AS sv, COUNT(*) AS n
       |        FROM e$i GROUP BY cl, idx),
       |n$i AS (SELECT cl, list(CAST(CASE WHEN sv >= 0
       |          THEN (2*sv + n) // (2*n)
       |          ELSE -((-2*sv + n) // (2*n)) END AS BIGINT)
       |          ORDER BY idx) AS cv
       |        FROM g$i GROUP BY cl),
       |c$i AS (SELECT p.cl, COALESCE(n$i.cv, p.cv) AS cv
       |        FROM $prev p LEFT JOIN n$i USING (cl))""".stripMargin

  /** the final assignment `af` uses the POST-round-3 centroids c3 —
    * matching [[Similarity.kMeans]], which labels with the centroids as
    * updated by the last Lloyd round */
  private val kmeansChainSql =
    s"""WITH s AS (SELECT vec_id, $scaledSqlFrag AS v FROM embeddings),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
       |       FROM (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT 8) t),
       |${kmeansRoundSql(1, "c0")},
       |${kmeansRoundSql(2, "c1")},
       |${kmeansRoundSql(3, "c2")},
       |af AS (SELECT vec_id, cl FROM (
       |  SELECT s.vec_id, c.cl, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY list_aggregate(list_transform(list_zip(s.v, c.cv),
       |      q -> (q[1]-q[2])*(q[1]-q[2])), 'sum'), c.cl) AS rn
       |  FROM s, c3 c) t WHERE rn = 1)""".stripMargin

  private val embedKmeansSql =
    s"""$kmeansChainSql
       |SELECT vec_id, CAST(cl AS BIGINT) AS cluster
       |FROM af ORDER BY vec_id""".stripMargin

  /** Cluster representatives ([[Similarity.clusterMedoids]]): one member
    * per k-means cluster, nearest the final centroid by integer distance
    * — the diversity-sampling primitive. */
  private def embedMedoids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.clusterMedoids(e, "vec_id", "embedding", k = 8, iters = 3)
      .select(col("cluster").cast("long").as("cluster"), col("vec_id"))
      .orderBy(col("cluster"))
  }

  private val embedMedoidsSql =
    s"""$kmeansChainSql
       |SELECT CAST(cl AS BIGINT) AS cluster, vec_id FROM (
       |  SELECT a.cl, s.vec_id, ROW_NUMBER() OVER (PARTITION BY a.cl
       |    ORDER BY list_aggregate(list_transform(list_zip(s.v, c3.cv),
       |      q -> (q[1]-q[2])*(q[1]-q[2])), 'sum'), s.vec_id) AS rn
       |  FROM af a JOIN s USING (vec_id) JOIN c3 ON a.cl = c3.cl) t
       |WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** Product-quantization codes ([[Similarity.pqEncode]]): 4 subspaces
    * of 16 dims, 8-centroid codebook each, 2 Lloyd rounds — the oracle
    * generates the per-subspace k-means chain (same unrolled-CTE
    * machinery, suffixed names over sliced vectors) and joins the four
    * final assignments. */
  private def pqEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.pqEncode(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
      .orderBy(col("vec_id"))
  }

  /** suffixed k-means CTE chain over source CTE `s$sfx` (vec_id, v):
    * init c0$sfx (k smallest ids), `iters` Lloyd rounds, final
    * assignment af$sfx against the post-update centroids */
  private def kmeansCtes(sfx: String, k: Int, iters: Int): String = {
    def assignSql(name: String, cents: String): String =
      s"""$name AS (SELECT vec_id, cl FROM (
         |  SELECT s.vec_id, c.cl, ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |    ORDER BY list_aggregate(list_transform(list_zip(s.v, c.cv),
         |      q -> (q[1]-q[2])*(q[1]-q[2])), 'sum'), c.cl) AS rn
         |  FROM s$sfx s, $cents c) t WHERE rn = 1)""".stripMargin
    def roundSql(i: Int, prev: String): String =
      s"""${assignSql(s"a$i$sfx", prev)},
         |e$i$sfx AS (SELECT a.cl, unnest(range(1, len(s.v)+1)) AS idx,
         |               unnest(s.v) AS val
         |        FROM a$i$sfx a JOIN s$sfx s USING (vec_id)),
         |g$i$sfx AS (SELECT cl, idx, SUM(val) AS sv, COUNT(*) AS n
         |        FROM e$i$sfx GROUP BY cl, idx),
         |n$i$sfx AS (SELECT cl, list(CAST(CASE WHEN sv >= 0
         |          THEN (2*sv + n) // (2*n)
         |          ELSE -((-2*sv + n) // (2*n)) END AS BIGINT)
         |          ORDER BY idx) AS cv
         |        FROM g$i$sfx GROUP BY cl),
         |c$i$sfx AS (SELECT p.cl, COALESCE(n$i$sfx.cv, p.cv) AS cv
         |        FROM $prev p LEFT JOIN n$i$sfx USING (cl))""".stripMargin
    val init =
      s"""c0$sfx AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl,
         |       v AS cv
         |       FROM (SELECT vec_id, v FROM s$sfx ORDER BY vec_id
         |             LIMIT $k) t)""".stripMargin
    val rounds = (1 to iters).map(i => roundSql(i, s"c${i - 1}$sfx"))
    (Seq(init) ++ rounds :+ assignSql(s"af$sfx", s"c$iters$sfx"))
      .mkString(",\n")
  }

  private val pqEncodeSql = {
    val (m, sub, k, iters) = (4, 16, 8, 2)
    val subs = (0 until m).map { j =>
      s"""s_$j AS (SELECT vec_id, v[${j * sub + 1}:${(j + 1) * sub}] AS v
         |       FROM base),
         |${kmeansCtes(s"_$j", k, iters)}""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m)
      .map(j => s"CAST(af_$j.cl AS BIGINT) AS code$j").mkString(", ")
    val joins = (0 until m)
      .map(j => s"JOIN af_$j ON af_$j.vec_id = base.vec_id").mkString(" ")
    s"""WITH base AS (SELECT vec_id, $scaledSqlFrag AS v FROM embeddings),
       |$subs
       |SELECT base.vec_id, $codeCols
       |FROM base $joins ORDER BY base.vec_id""".stripMargin
  }

  /** ADC top-k over PQ codes ([[Similarity.pqAdcTopK]]): the ranking is
    * computed from the compressed codes + per-subspace lookup tables
    * only — the oracle rebuilds the same codebooks, LUTs and integer
    * distances, so even the approximate ranking is hash-exact. */
  private def pqAdcTopKQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    Similarity.pqAdcTopK(e.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", qv, topK = 20, m = 4, k = 8, iters = 2)
  }

  private val pqAdcTopKSql = {
    val (m, sub, k, iters) = (4, 16, 8, 2)
    val subs = (0 until m).map { j =>
      s"""s_$j AS (SELECT vec_id, v[${j * sub + 1}:${(j + 1) * sub}] AS v
         |       FROM base),
         |${kmeansCtes(s"_$j", k, iters)}""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { j =>
      s"""lut_$j AS (SELECT c.cl,
         |  list_aggregate(list_transform(
         |    list_zip(q0.v[${j * sub + 1}:${(j + 1) * sub}], c.cv),
         |    q -> (q[1]-q[2])*(q[1]-q[2])), 'sum') AS d
         |  FROM c${iters}_$j c, q0)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until m).map(j =>
      s"JOIN af_$j ON af_$j.vec_id = base.vec_id " +
        s"JOIN lut_$j l$j ON l$j.cl = af_$j.cl").mkString(" ")
    val distSum = (0 until m).map(j => s"l$j.d").mkString(" + ")
    s"""WITH base AS (SELECT vec_id, $scaledSqlFrag AS v FROM embeddings
       |       WHERE vec_id <> 0),
       |q0 AS (SELECT $scaledSqlFrag AS v FROM embeddings WHERE vec_id = 0),
       |$subs,
       |$luts
       |SELECT base.vec_id, CAST($distSum AS BIGINT) AS adist
       |FROM base $joins
       |ORDER BY adist, base.vec_id LIMIT 20""".stripMargin
  }

  /** IVF-PQ probe ([[Similarity.ivfPqTopK]]): coarse k-means cells + PQ
    * codes + nprobe-limited ADC — the faiss IVFPQ (by_residual=false)
    * layout, oracle-exact because every stage is the same scaled-long
    * arithmetic. */
  private def ivfPqTopKQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    Similarity.ivfPqTopK(e.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", qv, topK = 20, kCoarse = 8, coarseIters = 2,
      m = 4, k = 8, iters = 2, nprobe = 3)
  }

  private val ivfPqTopKSql = {
    val (m, sub, k, iters) = (4, 16, 8, 2)
    val (kc, coarseIters, nprobe) = (8, 2, 3)
    val subs = (0 until m).map { j =>
      s"""s_$j AS (SELECT vec_id, v[${j * sub + 1}:${(j + 1) * sub}] AS v
         |       FROM base),
         |${kmeansCtes(s"_$j", k, iters)}""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { j =>
      s"""lut_$j AS (SELECT c.cl,
         |  list_aggregate(list_transform(
         |    list_zip(q0.v[${j * sub + 1}:${(j + 1) * sub}], c.cv),
         |    q -> (q[1]-q[2])*(q[1]-q[2])), 'sum') AS d
         |  FROM c${iters}_$j c, q0)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until m).map(j =>
      s"JOIN af_$j ON af_$j.vec_id = base.vec_id " +
        s"JOIN lut_$j l$j ON l$j.cl = af_$j.cl").mkString(" ")
    val distSum = (0 until m).map(j => s"l$j.d").mkString(" + ")
    s"""WITH base AS (SELECT vec_id, $scaledSqlFrag AS v FROM embeddings
       |       WHERE vec_id <> 0),
       |q0 AS (SELECT $scaledSqlFrag AS v FROM embeddings WHERE vec_id = 0),
       |s_c AS (SELECT vec_id, v FROM base),
       |${kmeansCtes("_c", kc, coarseIters)},
       |pc AS (SELECT cl FROM (
       |  SELECT c.cl, ROW_NUMBER() OVER (ORDER BY
       |    list_aggregate(list_transform(list_zip(q0.v, c.cv),
       |      q -> (q[1]-q[2])*(q[1]-q[2])), 'sum'), c.cl) AS rn
       |  FROM c${coarseIters}_c c, q0) t WHERE rn <= $nprobe),
       |$subs,
       |$luts
       |SELECT base.vec_id, CAST($distSum AS BIGINT) AS adist
       |FROM base JOIN af_c ON af_c.vec_id = base.vec_id $joins
       |WHERE af_c.cl IN (SELECT cl FROM pc)
       |ORDER BY adist, base.vec_id LIMIT 20""".stripMargin
  }

  /** SemDeDup-style semantic dedup ([[Similarity.semanticDedup]]):
    * k-means blocks the pair space, the exact scaled cosine refines; the
    * oracle replays the clustering chain and the within-cluster pair
    * join. */
  private def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    // τ=0.40 sits inside the synthetic corpus's similarity range (top
    // pairwise cosine ≈0.51), so the dedup actually prunes (~24 of 500)
    Similarity.semanticDedup(e, "vec_id", "embedding", k = 8, iters = 3,
      threshold = 0.40)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("vec_id"))
  }

  private val semanticDedupSql =
    s"""$kmeansChainSql,
       |pp AS (SELECT b.vec_id AS ib,
       |  CAST(list_aggregate(list_transform(list_zip(sa.v, sb.v),
       |       q -> q[1] * q[2]), 'sum') AS DOUBLE)
       |  / (SQRT(CAST(list_aggregate(list_transform(sa.v, x -> x*x), 'sum') AS DOUBLE))
       |   * SQRT(CAST(list_aggregate(list_transform(sb.v, x -> x*x), 'sum') AS DOUBLE)))
       |  AS score
       |  FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id
       |  JOIN s sa ON sa.vec_id = a.vec_id
       |  JOIN s sb ON sb.vec_id = b.vec_id),
       |drp AS (SELECT DISTINCT ib FROM pp WHERE score > 0.40)
       |SELECT a.vec_id, CAST(a.cl AS BIGINT) AS cluster FROM af a
       |WHERE a.vec_id NOT IN (SELECT ib FROM drp)
       |ORDER BY a.vec_id""".stripMargin

  // ------------------------------------- exact duplicated-substring spans

  /** Exact substring-span dedup coverage (the "Deduplicating Training Data
    * Makes Language Models Better" ExactSubstr criterion, re-expressed
    * relationally): a token window is duplicated when its 8-token gram
    * recurs anywhere in the corpus; per document we report total windows,
    * duplicated windows, and a ≥10% coverage flag. Scale shape: the gram
    * fan-out is map-side only, BOTH aggregations are partial+final (the
    * (doc,gram) pre-agg keeps the corpus-count join at distinct-gram
    * width, not occurrence width), and the arithmetic is pure integers so
    * the oracle hash-matches. At 100 TB the gram string in the shuffle key
    * would dominate — swap `g` for xxhash64(g) in both aggs (collision
    * odds ~n²/2⁶⁴ are acceptable for a dedup heuristic); kept as strings
    * here for the exact oracle. */
  private def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val grams = d.select(col("doc_id"),
      explode(TextAnalysis.ngrams(col("text"), 8)).as("g"))
    val perDoc = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("k"))
    val corpus = perDoc.groupBy(col("g")).agg(sum(col("k")).as("c"))
    perDoc.join(corpus, "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).cast("long").as("n_grams"),
        sum(when(col("c") > 1, col("k")).otherwise(lit(0)))
          .cast("long").as("dup_grams"))
      .withColumn("flagged",
        (col("dup_grams") * 10 >= col("n_grams")).cast("long"))
      .orderBy(col("doc_id"))
  }

  private val dedupSubstringSql =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(0, GREATEST(len(t)-7,0)),
      |        i -> array_to_string(t[i+1:i+8],' '))) AS g FROM toks),
      |pd AS (SELECT doc_id, g, COUNT(*) AS k FROM g GROUP BY doc_id, g),
      |cc AS (SELECT g, SUM(k) AS c FROM pd GROUP BY g)
      |SELECT pd.doc_id, CAST(SUM(k) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN c > 1 THEN k ELSE 0 END) AS BIGINT) AS dup_grams,
      |  CAST(SUM(CASE WHEN c > 1 THEN k ELSE 0 END)*10 >= SUM(k) AS BIGINT) AS flagged
      |FROM pd JOIN cc USING (g) GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin

  // --------------------------------------- DSIR-style importance weights

  /** Data Selection via Importance Resampling (hashed n-gram features):
    * documents are scored by Σ_b count_b(doc) · w_b where w_b is the
    * target-vs-raw frequency ratio of feature bucket b (64 buckets, an
    * engine-portable token→bucket map so DuckDB reproduces it; a real
    * deployment would use murmur3 shingles). Ratios are scaled-integer
    * (×1e6, floor division) so scores hash-match exactly. Scale shape:
    * bucket counting is map-side combinable into 64 rows; the weight
    * table broadcasts; the only real shuffle is the per-(doc,bucket)
    * partial agg, and top-100 is TakeOrdered — no global sort. */
  private def dsirWeight(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val tok = d.select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("source"),
        pmod(length(col("w")) * 31 + ascii(col("w")), lit(64)).as("b"))
    val raw = tok.groupBy("b").agg(count(lit(1)).as("rc"))
    val tgt = tok.filter(col("source") === "src0")
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val wgt = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        expr("(coalesce(tc, 0) * 1000000) DIV rc").as("w"))
    val db = tok.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
    db.join(broadcast(wgt), "b")
      .groupBy("doc_id")
      .agg(sum(col("k") * col("w")).cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(100)
  }

  private val dsirWeightSql =
    """WITH tok AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w FROM documents),
      |f AS (SELECT doc_id, source, (len(w)*31 + ascii(w)) % 64 AS b
      |      FROM tok WHERE len(w) > 0),
      |raw AS (SELECT b, COUNT(*) AS rc FROM f GROUP BY b),
      |tgt AS (SELECT b, COUNT(*) AS tc FROM f WHERE source = 'src0' GROUP BY b),
      |wgt AS (SELECT raw.b AS b, (COALESCE(tc, 0) * 1000000) // rc AS w
      |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |db AS (SELECT doc_id, b, COUNT(*) AS k FROM f GROUP BY doc_id, b)
      |SELECT db.doc_id, CAST(SUM(k * w) AS BIGINT) AS score
      |FROM db JOIN wgt USING (b) GROUP BY db.doc_id
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("text_stats", textStats, Some(textStatsSql)),
    QueryDef("text_langid", textLangId, Some(textLangIdSql)),
    QueryDef("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    QueryDef("dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("dedup_ngram_jaccard", dedupNgramJaccard,
      Some(dedupNgramJaccardSql)),
    QueryDef("dedup_minhash", dedupMinhash, Some(dedupMinhashSql)),
    // verified simhash answers the same all-pairs-Jaccard question as
    // minhash (different blocking, same exact refine) — same oracle
    QueryDef("dedup_simhash", dedupSimhash, Some(dedupMinhashSql)),
    QueryDef("embed_topk", embedTopK, Some(embedTopKSql)),
    QueryDef("embed_near_dup", embedNearDup, Some(embedNearDupSql)),
    QueryDef("embed_lsh_topk", embedLshTopK, Some(annTopKSql)),
    QueryDef("embed_ivf_topk", embedIvfTopK, Some(annTopKSql)),
    QueryDef("embed_kmeans", embedKmeans, Some(embedKmeansSql)),
    QueryDef("embed_medoids", embedMedoids, Some(embedMedoidsSql)),
    QueryDef("pq_encode", pqEncodeQ, Some(pqEncodeSql)),
    QueryDef("pq_adc_topk", pqAdcTopKQ, Some(pqAdcTopKSql)),
    QueryDef("ivfpq_topk", ivfPqTopKQ, Some(ivfPqTopKSql)),
    QueryDef("semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    QueryDef("multimodal_features", multimodalFeatures,
      Some(multimodalFeaturesSql)),
    QueryDef("multimodal_decode", multimodalDecode,
      Some(multimodalDecodeSql)),
    QueryDef("multimodal_audio", multimodalAudio,
      Some(multimodalAudioSql)),
    QueryDef("multimodal_video", multimodalVideo,
      Some(multimodalVideoSql)),
    QueryDef("multimodal_resize", multimodalResize,
      Some(multimodalResizeSql)),
    QueryDef("multimodal_frames", multimodalFrames,
      Some(multimodalFramesSql)),
    QueryDef("stream_window", streamWindow, Some(streamWindowSql)),
    QueryDef("stream_ingest", streamIngest, Some(streamIngestSql)),
    QueryDef("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    QueryDef("dsir_weight", dsirWeight, Some(dsirWeightSql)),
    QueryDef("stream_join", streamJoin, Some(streamJoinSql)),
    QueryDef("stream_upsert", streamUpsert, Some(streamUpsertSql)),
  )
}
