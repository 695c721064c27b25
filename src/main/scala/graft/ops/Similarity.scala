package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorExprs.{cosineSql, quantize, quantizeSql}
import OpsUtil._

/** Similarity search over the embeddings table (builder prompt: brute-force
  * cosine top-k baseline + a blocked/IVF-style scale path + embedding-cosine
  * near-dup).
  *
  * Cross-engine determinism: float embeddings are floor-quantized to
  * thousandths (`floor(x*1000)` on the widened double — floor of an
  * identical double is identical everywhere, unlike round), giving integer
  * vectors whose dot products and norms are EXACT 64-bit sums; the final
  * cosine is a single IEEE division+sqrt on identical inputs, so even the
  * double column hash-matches DuckDB bit-for-bit.
  *
  * Scale notes: top-k versus one query is a broadcast of the query row and
  * a TakeOrderedAndProject — no shuffle of the corpus. The near-dup pair
  * search is blocked by label (the IVF cell stand-in) so no O(n²) pair
  * explosion; the IVF query prunes to the 2 nearest centroids before
  * scanning, which is the architecture that survives a 100 TB corpus.
  */
object Similarity {

  /** Exact integer dot product of two quantized vectors — a custom codegen
    * Expression ([[graft.functions.VectorExprs.dotLong]]); semantically
    * identical to aggregate(zip_with(a,b,_*_), 0L, _+_) but a tight
    * generated loop instead of interpreted HOF lambdas. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotLong(a, b)

  /** Fused single-pass cosine ([[graft.functions.CosineSimLong]]): one
    * generated loop for dot + both norms; bit-identical to the composed
    * three-dot form (same final IEEE division), 3x less array traversal
    * in the pair loops. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineLong(a, b)

  /** Brute-force cosine top-k against one query vector (vec_id 0):
    * broadcast the query, scan the corpus once, TakeOrderedAndProject. */
  val q50CosineTopk: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", quantize($"embedding").as("e"))
    val query = emb.filter($"vec_id" === 0)
      .select($"e".as("qe"))
    emb.filter($"vec_id" =!= 0)
      .join(broadcast(query))
      .select($"vec_id", cosine($"e", $"qe").as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10)
  }

  /** Embedding-cosine near-duplicate pairs, blocked by label: the pairwise
    * join only forms within a label cell, never across the corpus. The
    * squared norm is computed ONCE per vector before the join (n² pairs
    * would otherwise re-fold both norms per pair — 3× the array work).
    * Both join sides are that one pre-norm subtree; it is not cached, so
    * the lazily returned frame leaves no persisted blocks behind. */
  val q44EmbeddingNeardup: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", quantize($"embedding").as("e"))
      .withColumn("n2", dot($"e", $"e"))
    emb.as("va").join(emb.as("vb"),
        col("va.label") === col("vb.label")
          && col("va.vec_id") < col("vb.vec_id"))
      .select(col("va.vec_id").as("vec_a"), col("vb.vec_id").as("vec_b"),
        (dot(col("va.e"), col("vb.e")).cast("double") /
          (sqrt(col("va.n2").cast("double")) * sqrt(col("vb.n2").cast("double"))))
          .as("cos_sim"))
      .filter($"cos_sim" >= 0.3)
      .orderBy($"vec_a", $"vec_b")
  }

  /** IVF-style ANN: per-label centroids (exact int sums / count), probe the
    * 2 nearest centroids for the query (vec_id 1), brute-force only inside
    * those cells, return top-10. */
  val q51AnnIvf: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", quantize($"embedding").as("e"))
    val comps = emb.select($"label", posexplode($"e").as(Seq("pos", "v")))
    val centroids = comps.groupBy($"label", $"pos")
      .agg((sum($"v").cast("double") / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        s => s.getField("c")).as("ce"))
    val query = emb.filter($"vec_id" === 1).select($"e".as("qe"))
    val dotD = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val cosD = (a: Column, b: Column) =>
      dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))
    val qd = transform($"qe", x => x.cast("double"))
    val probes = centroids.join(broadcast(query))
      .select($"label", cosD($"ce", qd).as("ccos"))
      .orderBy($"ccos".desc, $"label")
      .limit(2)
      .select($"label")
    emb.filter($"vec_id" =!= 1)
      .join(broadcast(probes), Seq("label"))
      .join(broadcast(query))
      .select($"vec_id", $"label", cosine($"e", $"qe").as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10)
  }

  /** The nprobe tuning curve for q51's IVF index — the recall/cost
    * frontier an ANN deployment reads before fixing its probe count:
    * for nprobe ∈ {1, 2, 4}, how many vectors the probed cells scan
    * and what fraction of the EXACT top-10 the probed search recovers
    * (recall as a checked output — the q140/q161 honesty rule). The
    * centroid ranking is computed once (|labels| rows, collected —
    * the q131 driver-literal class) and all three probe sets derive
    * from it for free; each probe level then runs one bounded
    * cell-scan + TakeOrderedAndProject. At 10⁹ vectors this exact
    * table — scanned-vs-recall per nprobe — is the tuning artifact;
    * the plan shape per level is q51's. */
  val q184ProbeSweep: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", quantize($"embedding").as("e"))
      .cache()
    val comps = emb.select($"label", posexplode($"e").as(Seq("pos", "v")))
    val centroids = comps.groupBy($"label", $"pos")
      .agg((sum($"v").cast("double") / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        s => s.getField("c")).as("ce"))
    val query = emb.filter($"vec_id" === 1).select($"e".as("qe"))
    val dotD = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val cosD = (a: Column, b: Column) =>
      dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))
    val qd = transform($"qe", x => x.cast("double"))
    // one centroid ranking, |labels| rows, drives every probe level
    val ranking = centroids.join(broadcast(query))
      .select($"label", cosD($"ce", qd).as("ccos"))
      .orderBy($"ccos".desc, $"label")
      .select($"label").collect().map(_.getInt(0))
    val cellSizes = emb.filter($"vec_id" =!= 1).groupBy($"label")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val exactTop = emb.filter($"vec_id" =!= 1)
      .join(broadcast(query))
      .select($"vec_id", cosine($"e", $"qe").as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val rows = Seq(1, 2, 4).map { k =>
      val cells = ranking.take(k)
      val scanned = cells.map(cellSizes.getOrElse(_, 0L)).sum
      val top = emb.filter($"vec_id" =!= 1 && $"label".isin(cells: _*))
        .join(broadcast(query))
        .select($"vec_id", cosine($"e", $"qe").as("cos"))
        .orderBy($"cos".desc, $"vec_id").limit(10)
        .select($"vec_id").collect().map(_.getLong(0))
      val hits = top.count(exactTop.contains).toLong
      (k, scanned, hits, hits * 1000000L / 10L)
    }
    emb.unpersist()
    rows.toDF("nprobe", "n_scanned", "n_hits", "recall_ppm")
      .orderBy($"nprobe")
  }

  val queries: Map[String, Q] = Map(
    "q44_embedding_neardup" -> q44EmbeddingNeardup,
    "q50_cosine_topk" -> q50CosineTopk,
    "q51_ann_ivf" -> q51AnnIvf,
    "q184_probe_sweep" -> q184ProbeSweep,
  )

  val oracle: Map[String, String] = Map(
    "q50_cosine_topk" ->
      s"""WITH v AS (
         |  SELECT vec_id, $quantizeSql AS e FROM embeddings
         |), q AS (SELECT e AS qe FROM v WHERE vec_id = 0)
         |SELECT vec_id,
         |  ${cosineSql("v.e", "q.qe")} AS cos_sim
         |FROM v, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q44_embedding_neardup" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, $quantizeSql AS e FROM embeddings
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosineSql("a.e", "b.e")} AS cos_sim
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosineSql("a.e", "b.e")} >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q51_ann_ivf" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, $quantizeSql AS e FROM embeddings
         |), comps AS (
         |  SELECT label, i AS pos, e[i] AS val
         |  FROM v, (SELECT unnest(range(1, 65)) AS i)
         |), cent AS (
         |  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS ce
         |  FROM (SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
         |        FROM comps GROUP BY 1, 2)
         |  GROUP BY 1
         |), q AS (
         |  SELECT list_transform(e, x -> CAST(x AS DOUBLE)) AS qd, e AS qe
         |  FROM v WHERE vec_id = 1
         |), probes AS (
         |  SELECT label,
         |    list_reduce(list_transform(ce, (x, i) -> x * qd[i]), (p, s) -> p + s)
         |      / (sqrt(list_reduce(list_transform(ce, (x, i) -> x * ce[i]), (p, s) -> p + s))
         |         * sqrt(list_reduce(list_transform(qd, (x, i) -> x * qd[i]), (p, s) -> p + s)))
         |      AS ccos
         |  FROM cent, q
         |  ORDER BY ccos DESC, label LIMIT 2
         |)
         |SELECT vec_id, v.label,
         |  ${cosineSql("v.e", "q.qe")} AS cos_sim
         |FROM v JOIN probes ON v.label = probes.label, q
         |WHERE vec_id <> 1
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q184_probe_sweep" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, $quantizeSql AS e FROM embeddings
         |), comps AS (
         |  SELECT label, i AS pos, e[i] AS val
         |  FROM v, (SELECT unnest(range(1, 65)) AS i)
         |), cent AS (
         |  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS ce
         |  FROM (SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
         |        FROM comps GROUP BY 1, 2)
         |  GROUP BY 1
         |), q AS (
         |  SELECT list_transform(e, x -> CAST(x AS DOUBLE)) AS qd, e AS qe
         |  FROM v WHERE vec_id = 1
         |), ranked AS (
         |  SELECT label, row_number() OVER (ORDER BY
         |    list_reduce(list_transform(ce, (x, i) -> x * qd[i]), (p, s) -> p + s)
         |      / (sqrt(list_reduce(list_transform(ce, (x, i) -> x * ce[i]), (p, s) -> p + s))
         |         * sqrt(list_reduce(list_transform(qd, (x, i) -> x * qd[i]), (p, s) -> p + s)))
         |      DESC, label) AS r
         |  FROM cent, q
         |), ks AS (
         |  SELECT unnest([1, 2, 4]) AS k
         |), probed AS (
         |  SELECT ks.k, ranked.label FROM ks JOIN ranked ON ranked.r <= ks.k
         |), sizes AS (
         |  SELECT label, COUNT(*) AS n FROM v WHERE vec_id <> 1 GROUP BY 1
         |), scanned AS (
         |  SELECT k, CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS n_scanned
         |  FROM probed LEFT JOIN sizes USING (label) GROUP BY 1
         |), cand AS (
         |  SELECT p.k, v.vec_id, ${cosineSql("v.e", "q.qe")} AS cos
         |  FROM v JOIN probed p ON v.label = p.label, q WHERE v.vec_id <> 1
         |), topk AS (
         |  SELECT k, vec_id,
         |    row_number() OVER (PARTITION BY k ORDER BY cos DESC, vec_id)
         |      AS rn
         |  FROM cand
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT v.vec_id, ${cosineSql("v.e", "q.qe")} AS cos
         |    FROM v, q WHERE v.vec_id <> 1
         |    ORDER BY cos DESC, vec_id LIMIT 10)
         |), hits AS (
         |  SELECT t.k, COUNT(*) AS h
         |  FROM topk t JOIN exact e ON t.vec_id = e.vec_id
         |  WHERE t.rn <= 10 GROUP BY 1
         |)
         |SELECT CAST(s.k AS INT) AS nprobe, s.n_scanned,
         |  CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.h, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
         |FROM scanned s LEFT JOIN hits h ON s.k = h.k
         |ORDER BY nprobe""".stripMargin,
  )
}
