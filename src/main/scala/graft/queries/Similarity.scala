package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import graft.similarity.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over `embeddings` — brute-force cosine top-k
  * (correctness baseline), IVF-bucketed ANN (scale path), and
  * embedding-cosine near-dup pairs. Cosine uses VectorOps' fixed-point
  * integer arithmetic, so results are bit-identical across engines and
  * partitionings.
  */
object Similarity {

  // probes = vec_id < 8; package-visible so specs reference THE constant
  private[graft] val ProbeLimit = 8
  // centroids = vec_id % 25 == 0; package-visible so specs check against
  // THIS constant instead of re-hardcoding it
  private[graft] val CentroidModulo = 25
  // sim_range_search: cosine radius; 0.2 yields a healthy nonempty match
  // set on the fixture (46 pairs at sf0.01) without flooding
  private[graft] val RangeTau = 0.2
  // sim_bitext: bucket-local kNN depth normalizing the margin score
  private[graft] val BitextK = 4
  // sim_mmr: shortlist size, selected-set size, and λ (in milli) of the
  // maximal-marginal-relevance rerank
  private[graft] val MmrCand = 20
  private[graft] val MmrK = 5
  private[graft] val MmrLambdaMilli = 700L
  // sim_negatives: hash-sampled pool size and hard-negative cut
  private[graft] val NegPoolN = 50
  private[graft] val NegK = 10
  // sim_mrl_curve prefix dimensions (full dim last = the recall-1 sanity
  // row); sim_rank_eval's ranking depth
  private[graft] val MrlDims = Seq(8, 16, 32, 64)
  private[graft] val RankK = 10

  /** DuckDB mirrors of VectorOps.quantize/dot/cosine. */
  private[queries] val qnSql = s"""
    SELECT vec_id,
           [CAST(round(CAST(x AS DOUBLE) * ${VectorOps.Scale}) AS BIGINT)
            for x in embedding] AS qv,
           CAST(list_sum([q * q for q in
             [CAST(round(CAST(x AS DOUBLE) * ${VectorOps.Scale}) AS BIGINT)
              for x in embedding]]) AS BIGINT) AS n2
    FROM embeddings"""

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum([$a.qv[i] * $b.qv[i] for i in generate_series(1, len($a.qv))]) AS BIGINT)"

  private[queries] def cosSql(a: String, b: String): String =
    s"CAST(${dotSql(a, b)} AS DOUBLE) / sqrt(CAST($a.n2 AS DOUBLE)) / sqrt(CAST($b.n2 AS DOUBLE))"

  /** Oracle CTE assigning every vector to its nearest centroid (IVF). */
  private[queries] val assignSql = s"""
    qn AS ($qnSql),
    cents AS (SELECT vec_id AS centroid_id, qv, n2 FROM qn
              WHERE vec_id % $CentroidModulo = 0),
    scored_c AS (
      SELECT v.vec_id, c.centroid_id, v.qv, v.n2,
             ${cosSql("v", "c")} AS ccos
      FROM qn v CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, centroid_id, qv, n2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored_c) WHERE rn = 1)"""

  /** [[assignSql]] keeping the winning centroid cosine (mirror of
    * VectorOps.assignIvfScored).
    */
  private val assignScoredSql = s"""
    qn AS ($qnSql),
    cents AS (SELECT vec_id AS centroid_id, qv, n2 FROM qn
              WHERE vec_id % $CentroidModulo = 0),
    scored_c AS (
      SELECT v.vec_id, c.centroid_id, v.qv, v.n2,
             ${cosSql("v", "c")} AS ccos
      FROM qn v CROSS JOIN cents c),
    asgs AS (
      SELECT vec_id, centroid_id, qv, n2, ccos FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY ccos DESC, centroid_id ASC) AS rn
        FROM scored_c) WHERE rn = 1)"""

  private val LshPlanes = 8
  private val Dims = 64 // fixture embedding dimensionality

  /** DuckDB mirror of VectorOps.lshSignature's bit string (shared by
    * sim_lsh_sig and sim_knn_lshbucket so the two oracles cannot drift).
    */
  private def sigBitsSql: String = {
    val signs = VectorOps.hyperplaneSigns(LshPlanes, Dims)
    (0 until LshPlanes).map { j =>
      val lst = signs(j).mkString("[", ", ", "]")
      s"""CASE WHEN list_sum([qv[i] * ($lst)[i]
             for i in generate_series(1, $Dims)]) >= 0
          THEN '1' ELSE '0' END"""
    }.mkString(" || ")
  }

  // ---- shared PQ machinery — sim_pq and sim_ivfpq compose ONE definition
  // of the codebook seeding, subspace geometry, encode argmin, and ADC
  // tables, so the composed query cannot drift from its parent.
  private val PqSubDim = 8
  private val PqCodes = 16
  // package-visible so specs assert against THIS constant (CentroidModulo
  // precedent) instead of re-hardcoding the probe count
  private[graft] val PqProbeN = 4
  // sim_ivfpq_refine: ADC candidates surviving to the exact-cosine rerank
  private val RefineShortlist = 10
  private val PqNSub = Dims / PqSubDim

  private def pqSubv(v: Array[Long], m: Int): Array[Long] =
    v.slice(m * PqSubDim, (m + 1) * PqSubDim)

  private def pqSqd(a: Array[Long], b: Array[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Codebook: the PqCodes hash-chosen vectors of `src` (vec_id, q, …),
    * collected as a model-sized literal — the sim_kmeans centroid
    * discipline ("pq|" salt keeps the choice independent of other seeded
    * ops). Swap in trained centroids without changing any plan.
    */
  private def pqCodebook(src: DataFrame): Array[(Long, Array[Long])] =
    src.select(col("vec_id"), col("q"))
      .orderBy(md5(concat(lit("pq|"), col("vec_id").cast("string"))
        .cast("binary")).asc, col("vec_id").asc)
      .limit(PqCodes).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** dt(probe)(m): code → exact integer distance of the probe's m-th
    * subvector to that code's subvector (driver-side — probe-side work is
    * client-side in a real ANN serving path too).
    */
  private def pqAdcTables(probes: Array[(Long, Array[Long])],
      cb: Array[(Long, Array[Long])]): Map[Long, Array[Map[Long, Long]]] =
    probes.map { case (pid, pv) =>
      pid -> Array.tabulate(PqNSub)(m =>
        cb.map { case (cid, c) =>
          cid -> pqSqd(pqSubv(pv, m), pqSubv(c, m))
        }.toMap)
    }.toMap

  /** Narrow encode: `keep` plus code0..code{M-1}, each the argmin over
    * literal codebook subvectors via (dist, cid) struct minimum — no
    * explode, no join.
    */
  private def pqEncoded(src: DataFrame, keep: Seq[Column],
      cb: Array[(Long, Array[Long])]): DataFrame = {
    def litVec(v: Array[Long]) = array(v.map(lit).toSeq: _*)
    val subCol = (m: Int) => slice(col("q"), m * PqSubDim + 1, PqSubDim)
    src.select(keep ++ (0 until PqNSub).map { m =>
      array_min(array(cb.map { case (cid, c) =>
        struct(
          aggregate(zip_with(subCol(m), litVec(pqSubv(c, m)),
            (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
            .as("dist"),
          lit(cid).as("cid"))
      }.toSeq: _*)).getField("cid").as(s"code$m")
    }: _*)
  }

  /** Per-probe ADC lookup as a literal probe-struct explode: each struct
    * carries probe_id, any `extras(pid)` fields, and adc_dist =
    * Σ_m dt(pid)(m)(code_m) via literal map lookups — still narrow; rows
    * fan out |probes|× only here at the very end.
    */
  private def pqAdcStructs(dt: Map[Long, Array[Map[Long, Long]]],
      probeIds: Seq[Long], extras: Long => Seq[Column]): Column =
    explode(array(probeIds.map { pid =>
      struct(lit(pid).as("probe_id") +: extras(pid) :+
        (0 until PqNSub).map(m =>
          element_at(typedLit(dt(pid)(m)), col(s"code$m")))
          .reduce(_ + _).as("adc_dist"): _*)
    }: _*))

  /** Per-probe ADC top-k (ascending distance, vec_id tie-break). */
  private def pqTopK(adc: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** Oracle CTEs ex/seeds/cb/dists/codes/dt mirroring the PQ machinery —
    * expects a `qn` CTE in scope; shared by sim_pq and sim_ivfpq so the
    * two oracles cannot drift either.
    */
  private val pqCtesSql = s"""
        ex AS (
          SELECT vec_id, g.i AS d, qv[g.i] AS q, (g.i - 1) // $PqSubDim AS m
          FROM qn CROSS JOIN generate_series(1, $Dims) AS g(i)),
        seeds AS (
          SELECT vec_id FROM qn
          ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)), vec_id
          LIMIT $PqCodes),
        cb AS (
          SELECT e.vec_id AS code, e.m, e.d, e.q AS qc
          FROM ex e JOIN seeds s ON s.vec_id = e.vec_id),
        dists AS (
          SELECT e.vec_id, e.m, c.code,
                 CAST(sum((e.q - c.qc) * (e.q - c.qc)) AS BIGINT) AS dist
          FROM ex e JOIN cb c ON c.m = e.m AND c.d = e.d GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, m, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                        ORDER BY dist, code) AS rn FROM dists) WHERE rn = 1),
        dt AS (
          SELECT vec_id AS probe_id, m, code, dist FROM dists
          WHERE vec_id < $PqProbeN)"""

  private val pqRankSql = """
        SELECT probe_id, vec_id AS neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY adc_dist, vec_id) AS rank
          FROM adc) WHERE rank <= 5"""

  /** Oracle `adc` CTE for the un-bucketed (whole-corpus) PQ scoring —
    * shared by sim_pq and sim_recall_pq.
    */
  private val pqAdcSql = """
        adc AS (
          SELECT t.probe_id, c.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc_dist
          FROM codes c JOIN dt t ON t.m = c.m AND t.code = c.code
          WHERE c.vec_id <> t.probe_id GROUP BY 1, 2)"""

  /** Shared IVF-PQ candidate generation behind sim_ivfpq and
    * sim_ivfpq_refine: IVF assignment → codebook/probe collects → narrow
    * encode → ADC via a BROADCAST probe relation joined on the coarse
    * centroid key. The probe table carries (probe_id, pcent, dts[, pq,
    * pn2]) where `dts` is the per-subspace code→distance map; adc_dist is
    * then Σ_m dts[m][code_m] as plain `element_at` lookups against the
    * joined row. Unlike the literal probe-struct explode ([[pqAdcStructs]],
    * still the right shape for the few-probe serving analog in sim_pq),
    * the PLAN here is probe-count-independent — one BroadcastHashJoin
    * whatever |probes| is — so the same lineage serves a 4-probe query or
    * a million-probe batch job; only the broadcast payload
    * (|probes| × M × K longs — model-sized) grows.
    *
    * `probeN` is a parameter so specs drive a 10×-probe batch through the
    * exact production path; `keepVec` controls whether candidate rows
    * carry (q, n2) for a downstream exact rerank (refine) or stay
    * minimal-width for the ADC-only top-k (ivfpq).
    */
  private[graft] def ivfPqAdc(s: SparkSession, dir: String, probeN: Int,
      keepVec: Boolean): (DataFrame, DataFrame) = {
    val emb = Tables.sharded(s, dir, "embeddings")
    val assigned = VectorOps.assignIvf(emb, CentroidModulo)
      .materialize() // 3 consumers: codebook, probes, candidates
    val cb = pqCodebook(assigned)
    val probes = assigned.filter(col("vec_id") < probeN)
      .select(col("vec_id"), col("centroid_id"), col("q"), col("n2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toArray, r.getLong(3)))
    val dt = pqAdcTables(probes.map(p => (p._1, p._3)), cb)
    import s.implicits._
    val probeRel = probes.toSeq.map { case (pid, cent, pv, pn2) =>
      (pid, cent, (0 until PqNSub).map(m => dt(pid)(m)), pv.toSeq, pn2)
    }.toDF("probe_id", "pcent", "dts", "pq", "pn2")
    val keep =
      if (keepVec) Seq(col("vec_id"), col("centroid_id"), col("q"), col("n2"))
      else Seq(col("vec_id"), col("centroid_id"))
    val coded = pqEncoded(assigned, keep, cb)
    val adc = coded
      .join(broadcast(probeRel.select(col("probe_id"), col("pcent"),
          col("dts"))),
        col("pcent") === col("centroid_id") &&
          col("vec_id") =!= col("probe_id"))
      .select(Seq(col("probe_id"), col("vec_id"),
        (0 until PqNSub).map(m =>
          element_at(element_at(col("dts"), m + 1), col(s"code$m")))
          .reduce(_ + _).as("adc_dist")) ++
        (if (keepVec) Seq(col("q"), col("n2")) else Nil): _*)
    (adc, probeRel)
  }

  /** The sim_ivfpq_refine lineage for an arbitrary probe batch: ADC
    * shortlist via [[ivfPqAdc]], then the exact-cosine rerank as a SECOND
    * broadcast join on probe_id — the shortlist window stays narrow
    * (probe vectors join in only after the RefineShortlist cut, so the
    * expensive 64-long probe payload rides |probes| × shortlist rows,
    * never bucket-sized data).
    */
  private[graft] def ivfPqRefine(s: SparkSession, dir: String,
      probeN: Int): DataFrame = {
    val (adc, probeRel) = ivfPqAdc(s, dir, probeN, keepVec = true)
    val d = VectorOps.dotFn(adc)
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    val short = adc.withColumn("srank", row_number().over(wAdc))
      .filter(col("srank") <= RefineShortlist)
    // probe norm divides FIRST (cosSql("p","c") order): fp division is
    // non-associative, so argument order is part of the contract
    val rer = short
      .join(broadcast(probeRel.select(col("probe_id"), col("pq"),
        col("pn2"))), Seq("probe_id"))
      .withColumn("cosine",
        VectorOps.cosine(d(col("q"), col("pq")), col("pn2"), col("n2")))
    val wCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    rer.withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("cosine"), col("rank"))
  }

  /** The sim_pq lineage (PQ encode + whole-corpus ADC top-5) as a
    * DataFrame — the query itself and the recall evaluation both consume
    * exactly this definition.
    */
  /** The per-probe MMR greedy kernel (r18) — selection over a probe's
    * bounded candidate set (MmrCand entries) and pairwise fixed-point
    * sims, as one local pass: step 1 is the relevance argmax; each later
    * step maximizes lam·rel − (1000−lam)·max(msim, 0) over the
    * remaining candidates, msim = max sim to the already-selected set;
    * every tie breaks to the smallest cand_id. Exactly the arithmetic
    * of the pre-r18 MmrK-round distributed unroll (the unchanged DuckDB
    * oracle is the equivalence proof); factored out so MmrGreedySpec
    * can pin the kernel against hand-computed selections.
    */
  private[graft] def mmrGreedy(pid: Long,
      candIt: Iterator[(Long, Long)],
      simIt: Iterator[((Long, Long), Long)],
      lam: Long, k: Int): Iterator[(Long, Long, Long, Long, Long)] = {
    val cands = candIt.toArray.sortBy(_._1) // cand_id asc = tie order
    val sim = new java.util.HashMap[(Long, Long), Long]()
    simIt.foreach { case (key, v) => sim.put(key, v) }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    (1 to k).foreach { step =>
      val remaining = cands.filterNot(c => selected.contains(c._1))
      if (remaining.nonEmpty) {
        val scored = remaining.map { case (id, rel) =>
          val mmr =
            if (step == 1) lam * rel
            else {
              // The kernel REQUIRES a complete per-probe sim cross
              // (sims carries every ordered candidate pair, a != b) —
              // the pre-r18 unroll's inner join EXCLUDED a candidate
              // with no sim row to the selected set, so a future
              // pruning of sims (e.g. sim_fx > 0) would silently
              // change selections if a missing pair defaulted to
              // zero penalty here. Fail loudly instead (ADVICE r18).
              val msim = selected.iterator
                .map { sel =>
                  val key = (id, sel)
                  require(sim.containsKey(key),
                    s"mmrGreedy: missing sim pair ($id, $sel) for " +
                      s"probe $pid — the kernel needs the complete " +
                      "per-probe candidate sim cross")
                  sim.get(key)
                }
                .max
              lam * rel - (1000L - lam) * math.max(msim, 0L)
            }
          (id, rel, mmr)
        }
        // argmax mmr; cands sorted asc, so on ties the smaller id wins
        val best = scored.maxBy(t => (t._3, -t._1))
        selected += best._1
        out += ((pid, best._1, step.toLong, best._2, best._3))
      }
    }
    out.iterator
  }

  private def pqTop5(s: SparkSession, dir: String): DataFrame = {
    val q = VectorOps.quantized(Tables.sharded(s, dir, "embeddings"))
      .select(col("vec_id"), col("q"))
    // codebook and ADC tables: model-/probe-set-sized literals via
    // the shared PQ machinery (pqCodebook/pqAdcTables)
    val cb = pqCodebook(q)
    val probes = q.filter(col("vec_id") < PqProbeN).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val dt = pqAdcTables(probes, cb)
    val coded = pqEncoded(q, Seq(col("vec_id")), cb)
    val adc = coded.select(col("vec_id"),
        pqAdcStructs(dt, probes.map(_._1).toSeq, _ => Nil).as("pa"))
      .select(col("pa.probe_id").as("probe_id"), col("vec_id"),
        col("pa.adc_dist").as("adc_dist"))
      .filter(col("vec_id") =!= col("probe_id"))
    pqTopK(adc, 5)
  }

  /** sim_mmr's oracle: the SAME MmrK-step greedy unroll as the Spark
    * lineage, generated by one loop so the two cannot drift — stage i's
    * CTE pair (msᵢ: max-sim-to-selected over the not-yet-picked
    * shortlist; selᵢ: the per-probe integer-MMR argmax) mirrors the
    * builder's joins clause for clause.
    */
  private val mmrSql: String = {
    val lam = MmrLambdaMilli
    val steps = (2 to MmrK).map { i =>
      s"""
        ms$i AS (
          SELECT r.probe_id, r.cand_id, r.rel_fx, max(s.sim_fx) AS msim
          FROM candv r
          JOIN sims s ON s.probe_id = r.probe_id AND s.a = r.cand_id
          JOIN selall${i - 1} t ON t.probe_id = s.probe_id
                               AND t.cand_id = s.b
          WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} x
                            WHERE x.probe_id = r.probe_id
                              AND x.cand_id = r.cand_id)
          GROUP BY 1, 2, 3),
        sel$i AS (
          SELECT probe_id, cand_id, rel_fx,
                 $lam * rel_fx - ${1000 - lam} * greatest(msim, 0) AS mmr_fx,
                 CAST($i AS BIGINT) AS step
          FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                  ORDER BY $lam * rel_fx
                           - ${1000 - lam} * greatest(msim, 0) DESC,
                           cand_id ASC) AS rn
                FROM ms$i) WHERE rn = 1),
        selall$i AS (SELECT * FROM selall${i - 1}
                     UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",")
    s"""
        WITH $assignSql,
        probes AS (SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
                   WHERE vec_id < $ProbeLimit),
        scored AS (
          SELECT p.probe_id, c.vec_id AS cand_id, ${cosSql("p", "c")} AS cosine
          FROM probes p JOIN asg c ON c.centroid_id = p.centroid_id
                                  AND c.vec_id <> p.probe_id),
        cand AS (
          SELECT probe_id, cand_id,
                 CAST(round(cosine * 1000000) AS BIGINT) AS rel_fx
          FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                  ORDER BY cosine DESC, cand_id ASC) AS rank
                FROM scored) WHERE rank <= $MmrCand),
        candv AS (
          SELECT c.probe_id, c.cand_id, c.rel_fx, q.qv, q.n2
          FROM cand c JOIN qn q ON q.vec_id = c.cand_id),
        sims AS (
          SELECT c1.probe_id, c1.cand_id AS a, c2.cand_id AS b,
                 CAST(round(${cosSql("c1", "c2")} * 1000000) AS BIGINT)
                   AS sim_fx
          FROM candv c1 JOIN candv c2 ON c2.probe_id = c1.probe_id
                                     AND c2.cand_id <> c1.cand_id),
        sel1 AS (
          SELECT probe_id, cand_id, rel_fx, $lam * rel_fx AS mmr_fx,
                 CAST(1 AS BIGINT) AS step
          FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                  ORDER BY rel_fx DESC, cand_id ASC) AS rn
                FROM candv) WHERE rn = 1),
        selall1 AS (SELECT probe_id, cand_id, rel_fx, mmr_fx, step
                    FROM sel1),
        $steps
        SELECT probe_id, cand_id AS neighbor_id, step, rel_fx, mmr_fx
        FROM selall$MmrK"""
  }

  val qs: Seq[Q] = Seq(

    // ---- random-hyperplane (sign) LSH signatures ---------------------------
    // The cosine analog of the MinHash bucketing: 8 deterministic md5-derived
    // hyperplanes, bit j = sign(q·h_j). Equal signatures = one candidate
    // bucket — the brief's "LSH-bucketed variant" of similarity search.
    // Each projection is a fixedpoint_dot against a literal sign vector.
    Q("sim_lsh_sig",
      (s, dir) => VectorOps.lshSignature(
        Tables.sharded(s, dir, "embeddings"), LshPlanes, Dims),
      Some(s"""
        WITH qn AS ($qnSql)
        SELECT vec_id, $sigBitsSql AS signature FROM qn""")),

    // ---- sign-LSH-bucketed approximate top-k -------------------------------
    // The second ANN bucketing scheme (next to IVF): candidates = vectors
    // sharing the probe's full 8-bit hyperplane signature, reranked by
    // exact cosine inside the bucket. One signature pass over the corpus
    // (narrow — 8 codegen'd fixedpoint_dot projections), one equi-join
    // keyed on the signature; cost tracks bucket size (n/2^planes on
    // average), and recall/latency trades directly on `planes` — the
    // multi-probe/fewer-planes knobs are this same plan with a looser
    // bucket key. Probes with a lonely signature return no rows (the
    // honest LSH failure mode IVF doesn't have; production multi-probes
    // neighboring signatures).
    Q("sim_knn_lshbucket",
      (s, dir) => VectorOps.knnLshBucket(
        Tables.sharded(s, dir, "embeddings"),
        col("vec_id") < ProbeLimit, LshPlanes, Dims, k = 5),
      Some(s"""
        WITH qn AS ($qnSql),
        sig AS (SELECT vec_id, $sigBitsSql AS signature, qv, n2 FROM qn),
        probes AS (SELECT vec_id AS probe_id, signature, qv, n2 FROM sig
                   WHERE vec_id < $ProbeLimit),
        scored AS (
          SELECT p.probe_id, c.vec_id, ${cosSql("p", "c")} AS cosine
          FROM probes p JOIN sig c ON c.signature = p.signature
                                  AND c.vec_id <> p.probe_id)
        SELECT probe_id, vec_id AS neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored) WHERE rank <= 5""")),

    // ---- brute-force cosine top-k ------------------------------------------
    // The exact baseline: a small broadcast probe set against the full
    // corpus — one corpus scan, no corpus shuffle; per-probe top-k via
    // row_number (partial top-k per partition under AQE).
    Q("sim_knn_brute",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        VectorOps.knnBrute(e, e.filter(col("vec_id") < ProbeLimit), k = 10)
      },
      Some(s"""
        WITH qn AS ($qnSql),
        p AS (SELECT vec_id AS probe_id, qv, n2 FROM qn
              WHERE vec_id < $ProbeLimit),
        scored AS (
          SELECT p.probe_id, c.vec_id, ${cosSql("p", "c")} AS cosine
          FROM p JOIN qn c ON c.vec_id <> p.probe_id)
        SELECT probe_id, vec_id AS neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored) WHERE rank <= 10""")),

    // ---- IVF radius (threshold) search -------------------------------------
    // "All neighbors with cosine ≥ τ", not a fixed k — the missing third
    // retrieval mode next to top-k and bucket-LSH: candidate generation
    // for near-dup review queues and recall-first retrieval, where the
    // caller bounds MATCH QUALITY and accepts variable result counts.
    // Plan is strictly lighter than sim_knn_ivf: same centroid-keyed
    // bucket join, but the per-probe rank window is replaced by a narrow
    // cosine filter — no window, no sort; τ is the only output-size knob.
    // The fixed-point cosine makes the τ comparison bit-identical across
    // engines, so the oracle can hash-match an inequality boundary.
    Q("sim_range_search",
      (s, dir) => VectorOps.rangeSearch(Tables.sharded(s, dir, "embeddings"),
        col("vec_id") < ProbeLimit, CentroidModulo, tau = RangeTau),
      Some(s"""
        WITH $assignSql,
        probes AS (SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
                   WHERE vec_id < $ProbeLimit)
        SELECT p.probe_id, c.vec_id AS neighbor_id,
               ${cosSql("p", "c")} AS cosine
        FROM probes p JOIN asg c ON c.centroid_id = p.centroid_id
                                AND c.vec_id <> p.probe_id
        WHERE ${cosSql("p", "c")} >= $RangeTau""")),

    // ---- IVF-bucketed approximate top-k ------------------------------------
    // The 100 TB path: centroids are a deterministic corpus subset,
    // assignment is one broadcast pass over the corpus (narrow — the corpus
    // never shuffles for it), and the search join is keyed on centroid_id,
    // so cost scales with bucket size. The centroid cross join is bounded:
    // |corpus| × |centroids|, centroids broadcast.
    Q("sim_knn_ivf",
      (s, dir) => VectorOps.knnIvf(Tables.sharded(s, dir, "embeddings"),
        col("vec_id") < ProbeLimit, CentroidModulo, k = 5),
      Some(s"""
        WITH $assignSql,
        probes AS (SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
                   WHERE vec_id < $ProbeLimit),
        scored AS (
          SELECT p.probe_id, c.vec_id, ${cosSql("p", "c")} AS cosine
          FROM probes p JOIN asg c ON c.centroid_id = p.centroid_id
                                  AND c.vec_id <> p.probe_id)
        SELECT probe_id, vec_id AS neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored) WHERE rank <= 5""")),

    // ---- ANN quality evaluation: IVF recall@5 vs brute ground truth ---------
    // The metric every ANN deployment needs: per probe, the fraction of
    // the exact top-5 the bucketed search recovered (left join: a probe
    // whose bucket misses everything still reports recall 0). Both sides
    // are deterministic, so even the EVALUATION is oracle-checked.
    Q("sim_recall",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val k = 5
        val truth = VectorOps.knnBrute(e, e.filter(col("vec_id") < ProbeLimit), k)
          .select(col("probe_id"), col("neighbor_id"))
        val approx = VectorOps.knnIvf(e, col("vec_id") < ProbeLimit,
            CentroidModulo, k)
          .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
        truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("probe_id"), col("k"), col("n_hit"),
            (col("n_hit").cast("double") / col("k").cast("double"))
              .as("recall"))
      },
      Some(s"""
        WITH $assignSql,
        truth AS (
          SELECT probe_id, vec_id AS neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rank
            FROM (SELECT * FROM qn WHERE vec_id < $ProbeLimit) p
            JOIN qn c ON c.vec_id <> p.vec_id) WHERE rank <= 5),
        approx AS (
          SELECT probe_id, vec_id AS neighbor_id, 1 AS hit FROM (
            SELECT p.probe_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.probe_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rank
            FROM (SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
                  WHERE vec_id < $ProbeLimit) p
            JOIN asg c ON c.centroid_id = p.centroid_id
                      AND c.vec_id <> p.probe_id) WHERE rank <= 5)
        SELECT t.probe_id, count(*) AS k,
               CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hit,
               CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) / count(*) AS recall
        FROM truth t LEFT JOIN approx a
          ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
        GROUP BY t.probe_id""")),

    // ---- Matryoshka truncation curve: recall@5 per prefix dimension ---------
    // The eval behind MRL-style embeddings (Kusupati et al. 2022,
    // arXiv:2205.13147): modern models are trained so a PREFIX of the
    // vector is itself a usable embedding, and serving picks the
    // cheapest prefix whose retrieval quality holds. This measures
    // exactly that trade: brute-force top-5 under the first
    // 8/16/32/64 components against the full-dimension ground truth —
    // recall@5 per prefix, exact integer per-mille. Slice-then-quantize
    // ≡ quantize-then-slice (elementwise), so the oracle slices the
    // quantized arrays. Per-dim probe sides stay broadcast; the corpus
    // scans once per dim and never shuffles (the knnBrute shape).
    Q("sim_mrl_curve",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < ProbeLimit)
        val truth = VectorOps.knnBrute(e, probes, 5)
          .select(col("probe_id"), col("neighbor_id")).materialize()
        MrlDims.map { d =>
          val te = e.select(col("vec_id"),
            expr(s"slice(embedding, 1, $d)").as("embedding"))
          val approx = VectorOps
            .knnBrute(te, te.filter(col("vec_id") < ProbeLimit), 5)
            .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
          truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("n_truth"),
              sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
            .select(lit(d.toLong).as("dim"), col("n_truth"), col("n_hit"),
              expr("n_hit * 1000 div n_truth").as("recall_pm"))
        }.reduce(_.unionByName(_))
      },
      Some {
        val dimBlocks = MrlDims.map { d =>
          s"""qn$d AS (
               SELECT vec_id, qv[1:$d] AS qv,
                      CAST(list_sum([q * q for q in qv[1:$d]]) AS BIGINT)
                        AS n2
               FROM qn),
             ap$d AS (
               SELECT probe_id, vec_id AS neighbor_id FROM (
                 SELECT p.vec_id AS probe_id, c.vec_id,
                        row_number() OVER (PARTITION BY p.vec_id
                          ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC)
                          AS rank
                 FROM (SELECT * FROM qn$d WHERE vec_id < $ProbeLimit) p
                 JOIN qn$d c ON c.vec_id <> p.vec_id) WHERE rank <= 5)"""
        }.mkString(",\n")
        val rows = MrlDims.map { d =>
          s"""SELECT CAST($d AS BIGINT) AS dim,
                     CAST(count(*) AS BIGINT) AS n_truth,
                     CAST(sum(CASE WHEN a.probe_id IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                     CAST(sum(CASE WHEN a.probe_id IS NOT NULL
                       THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
                       AS recall_pm
              FROM truth t LEFT JOIN ap$d a
                ON a.probe_id = t.probe_id
               AND a.neighbor_id = t.neighbor_id"""
        }.mkString("\nUNION ALL\n")
        s"""
        WITH qn AS ($qnSql),
        truth AS (
          SELECT probe_id, vec_id AS neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rank
            FROM (SELECT * FROM qn WHERE vec_id < $ProbeLimit) p
            JOIN qn c ON c.vec_id <> p.vec_id) WHERE rank <= 5),
        $dimBlocks
        $rows"""
      }),

    // ---- graded ranking evaluation: MRR + nDCG@10 over IVF retrieval --------
    // The other half of retrieval evaluation: sim_recall asks "did the
    // right documents come back", this asks "did they come back IN THE
    // RIGHT ORDER". Relevance = label match (the corpus carries class
    // labels); the ranking under test is the production IVF search's
    // top-10. MRR is 10⁶//first-relevant-rank; nDCG's log2 discount
    // uses the micro-quantized-ln rule (every ln runs over the INTEGER
    // rank+1): dcg_micro = Σ_rel 10¹²//Q(r+1), idcg over the ideal
    // prefix min(|rel∩corpus|, 10) — the whole metric stays exact
    // BIGINT arithmetic, so even the EVALUATION is oracle-checked. A
    // probe whose bucket returns nothing relevant reports 0, not NULL.
    Q("sim_rank_eval",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val labels = e.select(col("vec_id"), col("label"))
        val ranked = VectorOps.knnIvf(e, col("vec_id") < ProbeLimit,
            CentroidModulo, RankK)
          .select(col("probe_id"), col("neighbor_id"), col("rank"))
          .join(broadcast(labels.select(col("vec_id").as("probe_id"),
            col("label").as("plabel"))), Seq("probe_id"))
          .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
            col("label").as("nlabel"))), Seq("neighbor_id"))
          .withColumn("rel", when(col("plabel") === col("nlabel"), 1L)
            .otherwise(0L))
        // corpus-wide relevant count per probe (excluding self) bounds
        // the ideal ranking's length
        val corpusRel = e.groupBy(col("label"))
          .agg(count(lit(1)).as("n_label"))
        val perProbe = ranked.groupBy(col("probe_id"), col("plabel"))
          .agg(
            sum(col("rel")).as("n_rel_found"),
            min(when(col("rel") === 1L, col("rank"))).as("first_rel_rank"),
            sum(when(col("rel") === 1L,
              expr("1000000000000 div CAST(round(ln(rank + 1) * 1000000)" +
                " AS BIGINT)")).otherwise(0L)).as("dcg_micro"))
          .join(broadcast(corpusRel.select(col("label").as("plabel"),
            col("n_label"))), Seq("plabel"))
          .withColumn("n_rel_corpus", col("n_label") - 1)
        perProbe.select(col("probe_id"), col("n_rel_corpus"),
            col("n_rel_found"),
            coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
            when(col("first_rel_rank").isNull, 0L)
              .otherwise(expr("1000000 div first_rel_rank")).as("mrr_micro"),
            col("dcg_micro"),
            expr(s"""aggregate(sequence(1L, least(n_rel_corpus,
                 ${RankK}L)), 0L, (a, r) -> a + 1000000000000 div
                 CAST(round(ln(r + 1) * 1000000) AS BIGINT))""")
              .as("idcg_micro"))
          .withColumn("ndcg_pm",
            when(col("idcg_micro") === 0L, 0L)
              .otherwise(expr("dcg_micro * 1000 div idcg_micro")))
      },
      Some(s"""
        WITH $assignSql,
        ranked AS (
          SELECT probe_id, vec_id AS neighbor_id, rank FROM (
            SELECT p.probe_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.probe_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rank
            FROM (SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
                  WHERE vec_id < $ProbeLimit) p
            JOIN asg c ON c.centroid_id = p.centroid_id
                      AND c.vec_id <> p.probe_id) WHERE rank <= $RankK),
        lab AS (SELECT vec_id, label FROM embeddings),
        rl AS (
          SELECT r.probe_id, r.rank,
                 CASE WHEN pl.label = nl.label THEN 1 ELSE 0 END AS rel,
                 pl.label AS plabel
          FROM ranked r
          JOIN lab pl ON pl.vec_id = r.probe_id
          JOIN lab nl ON nl.vec_id = r.neighbor_id),
        cr AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
        pp AS (
          SELECT probe_id, plabel,
                 CAST(sum(rel) AS BIGINT) AS n_rel_found,
                 min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
                 CAST(sum(CASE WHEN rel = 1 THEN 1000000000000 //
                   CAST(round(ln(rank + 1) * 1000000) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS dcg_micro
          FROM rl GROUP BY 1, 2),
        wc AS (
          SELECT pp.*, cr.n_label - 1 AS n_rel_corpus
          FROM pp JOIN cr ON cr.label = pp.plabel)
        SELECT probe_id, CAST(n_rel_corpus AS BIGINT) AS n_rel_corpus,
               n_rel_found,
               CAST(coalesce(first_rel_rank, 0) AS BIGINT)
                 AS first_rel_rank,
               CAST(CASE WHEN first_rel_rank IS NULL THEN 0
                    ELSE 1000000 // first_rel_rank END AS BIGINT)
                 AS mrr_micro,
               dcg_micro,
               CAST(list_sum([1000000000000 //
                 CAST(round(ln(r + 1) * 1000000) AS BIGINT)
                 for r in generate_series(1, least(n_rel_corpus, $RankK))])
                 AS BIGINT) AS idcg_micro,
               CAST(CASE WHEN least(n_rel_corpus, $RankK) <= 0 THEN 0
                    ELSE dcg_micro * 1000 //
                      CAST(list_sum([1000000000000 //
                        CAST(round(ln(r + 1) * 1000000) AS BIGINT)
                        for r in generate_series(1,
                          least(n_rel_corpus, $RankK))]) AS BIGINT)
                    END AS BIGINT) AS ndcg_pm
        FROM wc""")),

    // ---- embedding-cosine near-dup candidates ------------------------------
    // Near-dup detection in embedding space: all pairs WITHIN an IVF bucket
    // (never across the corpus), top 20 by cosine — the embedding analog of
    // LSH-bucketed text dedup.
    Q("dd_embed_cos",
      (s, dir) => {
        // materialized: the self-join below references the assignment
        // twice, and without truncation each side re-runs the full
        // corpus × centroids scoring pass (2× the dominant cost; at
        // scale you persist assignments before any bucket self-join)
        val assigned = VectorOps.assignIvf(
          Tables.sharded(s, dir, "embeddings"), CentroidModulo)
          .materialize()
        val a = assigned.select(col("centroid_id"),
          col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("na"))
        val b = assigned.select(col("centroid_id"),
          col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("nb"))
        val d = VectorOps.dotFn(assigned)
        a.join(b, Seq("centroid_id"))
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            VectorOps.cosine(d(col("qa"), col("qb")),
              col("na"), col("nb")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_a").asc, col("vec_b").asc)
          .limit(20)
      },
      Some(s"""
        WITH $assignSql
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ${cosSql("a", "b")} AS cosine
        FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
                             AND a.vec_id < b.vec_id
        ORDER BY cosine DESC, vec_a ASC, vec_b ASC LIMIT 20""")),

    // ---- SemDeDup-style semantic deduplication -----------------------------
    // The embedding-space capstone (Abbas et al. 2023, "SemDeDup"): cluster
    // the corpus (IVF assignment — one broadcast pass, corpus never
    // shuffles), take within-cluster pairs above a cosine threshold as
    // semantic-duplicate edges, group them into duplicate sets (bounded
    // min-label components — rounds × |edges| joins, the 100 TB contract),
    // and per set KEEP the member FARTHEST from its centroid (lowest
    // centroid cosine, the paper's low-typicality retention rule; ties
    // break on id). Output is one row per duplicate set: its size, the
    // survivor, and how many rows semantic dedup removes. Every score is
    // the deterministic fixed-point cosine, so an *iterative*
    // clustering + graph pipeline still hash-matches the oracle.
    Q("dd_semantic",
      (s, dir) => {
        val tau = 0.35
        val assigned = VectorOps.assignIvfScored(
          Tables.sharded(s, dir, "embeddings"), CentroidModulo)
          .materialize() // referenced by pair-gen twice + rank join
        val d = VectorOps.dotFn(assigned)
        val a = assigned.select(col("centroid_id"),
          col("vec_id").as("doc_a"), col("q").as("qa"), col("n2").as("na"))
        val b = assigned.select(col("centroid_id"),
          col("vec_id").as("doc_b"), col("q").as("qb"), col("n2").as("nb"))
        val edges = a.join(b, Seq("centroid_id"))
          .filter(col("doc_a") < col("doc_b"))
          .filter(VectorOps.cosine(d(col("qa"), col("qb")),
            col("na"), col("nb")) >= tau)
          .select(col("doc_a"), col("doc_b"))
        // the labels are checkpointed: they feed a JOIN, and without the
        // checkpoint's known size the planner degraded the join strategy
        // (A/B: 1.65 -> 1.85 s without it)
        val members = graft.ops.Components.label(edges, rounds = 2)
          .materialize()
          .join(assigned.select(col("vec_id").as("doc_id"), col("ccos")),
            "doc_id")
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("ccos").asc, col("doc_id").asc)
        members.withColumn("rn", row_number().over(w))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rn") === 1, col("doc_id"))).as("keep_id"))
          .withColumn("n_removed", col("n_members") - 1)
      },
      Some(s"""
        WITH $assignScoredSql,
        cand AS (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM asgs a JOIN asgs b ON a.centroid_id = b.centroid_id
                                 AND a.vec_id < b.vec_id
          WHERE ${cosSql("a", "b")} >= 0.35),
        ${graft.ops.Components.labelSql(2)},
        m AS (
          SELECT l.doc_id, l.cluster_id, s.ccos
          FROM l2 l JOIN asgs s ON s.vec_id = l.doc_id),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
                      ORDER BY ccos ASC, doc_id ASC) AS rn
          FROM m)
        SELECT cluster_id, count(*) AS n_members,
               max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
               count(*) - 1 AS n_removed
        FROM r GROUP BY cluster_id""")),

    // ---- seeded k-means (one Lloyd round) — IVF centroid TRAINING ----------
    // sim_knn_ivf consumes centroids; this op trains them: deterministic
    // seeds (8 smallest md5-hashed vec_ids) → Euclidean assignment →
    // centroid update (integer sum vectors + counts, never a float mean)
    // → reassignment against the updated centroids. Cluster sizes from
    // both rounds show the movement.
    //
    // Execution is the canonical Lloyd shape: centroids are MODEL-sized
    // (k × dims longs — bounded by k, not data), so each round collects
    // them to the driver and ships them back as literals; assignment is
    // then a NARROW map over the corpus — ‖x−c‖² expanded to
    // n2 − 2·x·c + ‖c‖² with x·c a codegen'd fixedpoint_dot against a
    // literal array, argmin via array_min over (dist, cid) structs — no
    // explode, no join, no shuffle. The only exchanges are the two
    // k-row update aggregations (count + 64 per-dim integer sums, all
    // map-side combinable). Round-2 distance to the mean S/n is compared
    // exactly: Σ_d (q·n − S_d)² = n²·n2 − 2n·(q·S) + S·S is an integer
    // identity (overflow-safe to ~2·10⁵ rows/cluster at |q| ≤ 10³;
    // beyond that rescale by a common 2^s or compare in double) and the
    // single final ÷n² is one correctly-rounded IEEE op — both engines
    // agree bitwise, which is what puts ITERATIVE ML under the oracle
    // gate. More rounds = repeating the same collect-assign-update step.
    Q("sim_kmeans",
      (s, dir) => {
        val k = 8
        val d = VectorOps.dotFn(Tables.sharded(s, dir, "embeddings"))
        val q = VectorOps.quantized(Tables.sharded(s, dir, "embeddings"))
          .materialize() // scanned by both rounds; quantize once
        def litVec(v: Array[Long]) = array(v.map(lit).toSeq: _*)
        def argmin(scored: Seq[(Column, Long)]): Column =
          array_min(array(scored.map { case (dist, cid) =>
            struct(dist.as("dist"), lit(cid).as("cid")) }: _*))
            .getField("cid")
        // round-0 centroids: the k hash-smallest vectors, collected
        val cents0 = q
          .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
            col("vec_id").asc)
          .limit(k).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        // assignment 1 (narrow): dist = n2 − 2·q·c + c·c, exact longs
        val a1 = q.withColumn("cid", argmin(cents0.toSeq.map {
          case (cid, c) =>
            val cc = c.map(x => x * x).sum
            (col("n2") - lit(2L) * d(col("q"), litVec(c)) + lit(cc), cid)
        }))
        // update: per-cluster count + per-dim integer sums (k rows out)
        val upd = a1.groupBy(col("cid"))
          .agg(count(lit(1)).as("n"),
            (1 to Dims).map(i => sum(element_at(col("q"), i)).as(s"s$i")): _*)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            (1 to Dims).map(i => r.getLong(1 + i)).toArray))
        // assignment 2 (narrow): Σ(q·n − S)²/n² via the integer identity
        val a2 = q.withColumn("cid", argmin(upd.toSeq.map {
          case (cid, n, sums) =>
            val ss = sums.map(x => x * x).sum
            val intDist = lit(n * n) * col("n2") -
              lit(2L * n) * d(col("q"), litVec(sums)) + lit(ss)
            (intDist.cast("double") / lit(n * n).cast("double"), cid)
        }))
        import s.implicits._
        val n1 = upd.map { case (cid, n, _) => (cid, n) }.toSeq
          .toDF("cid", "n_round1")
        n1.join(a2.groupBy(col("cid")).agg(count(lit(1)).as("n_round2")),
            Seq("cid"), "left")
          .select(col("cid").as("centroid_id"), col("n_round1"),
            coalesce(col("n_round2"), lit(0L)).as("n_round2"))
      },
      Some(s"""
        WITH qn AS ($qnSql),
        ex AS (
          SELECT vec_id, g.i AS d, qv[g.i] AS q
          FROM qn CROSS JOIN generate_series(1, $Dims) AS g(i)),
        seeds AS (
          SELECT vec_id FROM qn
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        c0 AS (
          SELECT e.vec_id AS cid, e.d, e.q AS qc
          FROM ex e JOIN seeds s ON s.vec_id = e.vec_id),
        d1 AS (
          SELECT e.vec_id, c.cid,
                 CAST(sum((e.q - c.qc) * (e.q - c.qc)) AS BIGINT) AS dist
          FROM ex e JOIN c0 c ON c.d = e.d GROUP BY 1, 2),
        a1 AS (
          SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
        n1 AS (SELECT cid, count(*) AS n_round1 FROM a1 GROUP BY 1),
        c1 AS (
          SELECT a.cid, e.d, CAST(sum(e.q) AS BIGINT) AS sd
          FROM ex e JOIN a1 a ON a.vec_id = e.vec_id GROUP BY 1, 2),
        d2 AS (
          SELECT e.vec_id, c.cid,
                 CAST(sum((e.q * n.n_round1 - c.sd) *
                          (e.q * n.n_round1 - c.sd)) AS DOUBLE) /
                   CAST(n.n_round1 * n.n_round1 AS DOUBLE) AS dist
          FROM ex e JOIN c1 c ON c.d = e.d
          JOIN n1 n ON n.cid = c.cid
          GROUP BY e.vec_id, c.cid, n.n_round1),
        a2 AS (
          SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1),
        n2 AS (SELECT cid, count(*) AS n_round2 FROM a2 GROUP BY 1)
        SELECT n1.cid AS centroid_id, n1.n_round1,
               CAST(coalesce(n2.n_round2, 0) AS BIGINT) AS n_round2
        FROM n1 LEFT JOIN n2 ON n2.cid = n1.cid""")),

    // ---- product quantization ANN (asymmetric distance computation) ---------
    // The billion-scale memory play (IVF-PQ): each vector is compressed to
    // M=8 one-byte codes (one per 8-dim subspace, nearest of K=16
    // codebook entries), and probe→vector distance is approximated by
    // table lookups — the probe computes ONE distance table per subspace
    // (|probes|·M·K entries), then every corpus vector's approximate
    // distance is Σ_m table[m, code_m(v)], touching only its 8 codes, not
    // its 64 floats. Codebook entries are the subvectors of 16
    // hash-chosen docs (same seeding discipline as sim_kmeans — swap in
    // trained centroids without changing any plan). Every distance is an
    // exact integer sum over quantized coordinates, so encode, tables,
    // ADC, and ranking are all bit-reproducible in the oracle. Scale
    // shape: codebook and ADC tables are model-/probe-sized literals, so
    // encode AND scoring are ONE narrow corpus pass; the only exchange is
    // the per-probe top-k window over |probes|·|corpus| scored rows.
    Q("sim_pq",
      (s, dir) => pqTop5(s, dir),
      Some(s"""
        WITH qn AS ($qnSql),$pqCtesSql,$pqAdcSql
        $pqRankSql""")),

    // ---- ANN quality evaluation: PQ recall@5 vs brute ground truth ----------
    // sim_recall grades the IVF bucketing; this grades the COMPRESSION:
    // per probe, how much of the exact cosine top-5 the 8-byte-code ADC
    // ranking recovers — the accuracy budget the memory play costs.
    // (Truth is the engine-standard cosine order; PQ ranks by quantized
    // L2 ADC — on normalized embeddings the two orders coincide, and the
    // gap between them is exactly what this evaluation measures.) Both
    // sides are deterministic, so the evaluation itself is oracle-checked.
    Q("sim_recall_pq",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val truth = VectorOps.knnBrute(e, e.filter(col("vec_id") < PqProbeN), 5)
          .select(col("probe_id"), col("neighbor_id"))
        val approx = pqTop5(s, dir)
          .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
        truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("probe_id"), col("k"), col("n_hit"),
            (col("n_hit").cast("double") / col("k").cast("double"))
              .as("recall"))
      },
      Some(s"""
        WITH qn AS ($qnSql),$pqCtesSql,$pqAdcSql,
        approx AS (
          SELECT probe_id, vec_id AS neighbor_id, 1 AS hit FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY adc_dist, vec_id) AS rank
            FROM adc) WHERE rank <= 5),
        truth AS (
          SELECT probe_id, vec_id AS neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rank
            FROM (SELECT * FROM qn WHERE vec_id < $PqProbeN) p
            JOIN qn c ON c.vec_id <> p.vec_id) WHERE rank <= 5)
        SELECT t.probe_id, count(*) AS k,
               CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hit,
               CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) / count(*) AS recall
        FROM truth t LEFT JOIN approx a
          ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
        GROUP BY 1""")),

    // ---- IVF-PQ: coarse quantizer + in-list ADC rerank ----------------------
    // The production billion-scale serving combo (FAISS IVFPQ): the IVF
    // coarse quantizer restricts each probe's search to its own inverted
    // list (sim_knn_ivf's bucketing) and PQ asymmetric-distance lookups
    // rank those candidates without touching their floats (sim_pq's
    // compression) — per-candidate memory is 8 one-byte codes AND
    // per-probe work is bucket-sized, not corpus-sized, which is why this
    // exact composition serves billion-vector indexes. Both parents'
    // deterministic seeding is reused unchanged, so the composed plan
    // stays under the oracle gate. Plan shape: one assignment pass
    // (broadcast centroids — the audited bounded BNLJ), checkpointed and
    // shared by the codebook/probe collects and the candidate scan; one
    // narrow encode projection (argmin over literal codebook
    // subvectors); candidates come from ONE BroadcastHashJoin of the
    // probe relation on the coarse centroid key (ivfPqAdc — the plan is
    // probe-count-independent, so the same lineage serves a batch probe
    // set); the only exchanges are the assignment window and the final
    // per-probe top-k.
    Q("sim_ivfpq",
      (s, dir) => pqTopK(ivfPqAdc(s, dir, PqProbeN, keepVec = false)._1, 5),
      Some(s"""
        WITH $assignSql,$pqCtesSql,
        probes AS (
          SELECT vec_id AS probe_id, centroid_id FROM asg
          WHERE vec_id < $PqProbeN),
        adc AS (
          SELECT p.probe_id, a.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc_dist
          FROM probes p
          JOIN asg a ON a.centroid_id = p.centroid_id
                    AND a.vec_id <> p.probe_id
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN dt t ON t.probe_id = p.probe_id AND t.m = c.m
                   AND t.code = c.code
          GROUP BY 1, 2)
        $pqRankSql""")),

    // ---- IVF-PQ + refine: ADC shortlist, exact-cosine rerank ----------------
    // The accuracy-recovery stage production IVFPQ serving adds on top of
    // sim_ivfpq (FAISS IndexRefineFlat): ADC lookups are lossy (8-byte
    // codes), so the top-RefineShortlist ADC candidates per probe are
    // re-scored with EXACT cosine against their full vectors and only
    // then cut to top-k. Cost shape at scale: the expensive exact math
    // runs on shortlist-sized data (|probes| × RefineShortlist rows),
    // never bucket- or corpus-sized; the probe's own vector enters via a
    // SECOND broadcast join applied after the shortlist cut (ivfPqRefine),
    // so the 64-long probe payload rides shortlist rows only and the
    // shortlist window exchange stays narrow. The plan is
    // probe-count-independent; rank ties break on vec_id in both engines.
    Q("sim_ivfpq_refine",
      (s, dir) => ivfPqRefine(s, dir, PqProbeN),
      Some(s"""
        WITH $assignSql,$pqCtesSql,
        probes AS (
          SELECT vec_id AS probe_id, centroid_id, qv, n2 FROM asg
          WHERE vec_id < $PqProbeN),
        adc AS (
          SELECT p.probe_id, a.vec_id, CAST(sum(t.dist) AS BIGINT) AS adc_dist
          FROM probes p
          JOIN asg a ON a.centroid_id = p.centroid_id
                    AND a.vec_id <> p.probe_id
          JOIN codes c ON c.vec_id = a.vec_id
          JOIN dt t ON t.probe_id = p.probe_id AND t.m = c.m
                   AND t.code = c.code
          GROUP BY 1, 2),
        short AS (
          SELECT probe_id, vec_id, adc_dist FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY adc_dist, vec_id) AS srank
            FROM adc) WHERE srank <= $RefineShortlist),
        rer AS (
          SELECT s.probe_id, s.vec_id, s.adc_dist,
                 ${cosSql("p", "c")} AS cosine
          FROM short s
          JOIN probes p ON p.probe_id = s.probe_id
          JOIN asg c ON c.vec_id = s.vec_id)
        SELECT probe_id, vec_id AS neighbor_id, adc_dist, cosine, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id) AS rank
          FROM rer) WHERE rank <= 5""")),

    // ---- filtered vector search (metadata-predicated ANN) -------------------
    // The modern vector-store table stake: top-k under a metadata
    // predicate (same tenant / language / category). PRE-filtered
    // semantics — the label equality is applied with the bucket join,
    // before any rerank, so k survivors are guaranteed to satisfy the
    // predicate (post-filtering would silently return < k). Plan shape:
    // labels join the IVF assignment on vec_id (co-partitioned equi-join;
    // at scale the label rides the same row as the vector and this join
    // disappears), then sim_knn_ivf's bucket-keyed search with the
    // predicate as an extra join conjunct — selectivity cuts rerank work
    // proportionally.
    Q("sim_filtered_knn",
      (s, dir) => VectorOps.knnIvfPreFiltered(
        Tables.sharded(s, dir, "embeddings"),
        col("vec_id") < ProbeLimit, CentroidModulo, k = 5,
        meta = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label")),
        sameOn = "label"),
      Some(s"""
        WITH $assignSql,
        al AS (
          SELECT a.vec_id, a.centroid_id, a.qv, a.n2, e.label
          FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id),
        probes AS (
          SELECT vec_id AS probe_id, centroid_id, qv, n2, label FROM al
          WHERE vec_id < $ProbeLimit),
        scored AS (
          SELECT p.probe_id, c.vec_id, c.label, ${cosSql("p", "c")} AS cosine
          FROM probes p JOIN al c ON c.centroid_id = p.centroid_id
                                 AND c.vec_id <> p.probe_id
                                 AND c.label = p.label)
        SELECT probe_id, vec_id AS neighbor_id, label, cosine, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored) WHERE rank <= 5""")),

    // ---- IVF index health: bucket load-balance report -----------------------
    // The operational metric that decides when an ANN index needs
    // re-training: per-bucket membership and its load factor vs the
    // perfectly-balanced mean (1000 = balanced, ≫1000 = hot list that
    // serializes every probe landing on it — the vector-search analog of
    // partition skew). One combinable count per centroid; the
    // normalizing window runs over |centroids| aggregate rows
    // (model-sized — the txt_source_mix single-partition precedent), and
    // the load factor is an exact integer per-mille.
    Q("sim_ivf_stats",
      (s, dir) => {
        val assigned = VectorOps.assignIvf(
          Tables.sharded(s, dir, "embeddings"), CentroidModulo)
        val sizes = assigned.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("n_members"))
        sizes
          .withColumn("total", sum(col("n_members")).over(Window.partitionBy()))
          .withColumn("n_buckets", count(lit(1)).over(Window.partitionBy()))
          .select(col("centroid_id"), col("n_members"),
            call_function("div",
              col("n_members") * 1000 * col("n_buckets"), col("total"))
              .as("load_milli"))
      },
      Some(s"""
        WITH $assignSql,
        sizes AS (
          SELECT centroid_id, count(*) AS n_members FROM asg GROUP BY 1)
        SELECT centroid_id, n_members,
               CAST((n_members * 1000 * (SELECT count(*) FROM sizes))
                 // (SELECT sum(n_members) FROM sizes) AS BIGINT)
                 AS load_milli
        FROM sizes""")),

    // ---- margin-based bitext mining (cross-"language" pair alignment) ------
    // The parallel-corpus miner (Artetxe & Schwenk 2019): align items of
    // two disjoint populations (labels 0-4 = source side, 5-9 = target
    // side — standing in for two languages under one multilingual
    // encoder) by MARGIN, cosine normalized by each side's local kNN
    // density, so a promiscuous hub that's near everything doesn't win
    // every pair; mined pairs must be MUTUAL margin-argmaxes. Candidate
    // generation is the shared-IVF discipline: both sides assign to the
    // SAME full-corpus centroids (one broadcast pass each), the cross
    // join is keyed on centroid_id (bucket-local, never |A|×|B|), and
    // kNN means are bucket-restricted exactly like sim_knn_ivf. All
    // ranking quantities are integers — cos_fx = round(cos·10⁶), margin
    // = (2000·cos_fx·ka·kb) div (sa·kb + sb·ka) (milli-margin, exact
    // integer arithmetic over positive-cosine candidates) — so argmax
    // tie-breaks and the mutuality filter are bit-identical across
    // engines.
    Q("sim_bitext",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val d = VectorOps.dotFn(e)
        val asg = VectorOps.assignIvf(e, CentroidModulo, keep = Seq("label"))
        val src = asg.filter(col("label") < 5).select(col("centroid_id"),
          col("vec_id").as("src_id"), col("q").as("aq"), col("n2").as("an2"))
        val tgt = asg.filter(col("label") >= 5).select(col("centroid_id"),
          col("vec_id").as("tgt_id"), col("q").as("bq"), col("n2").as("bn2"))
        // materialized: the scored candidate table feeds the two kNN-mean
        // denominators AND the margin join — without truncation the
        // IVF-assign + bucket join would replan and re-execute three
        // times (the dd_lsh_sweep multiplexing discipline)
        val sc = src.join(tgt, "centroid_id")
          .withColumn("cos_fx",
            round(VectorOps.cosine(d(col("aq"), col("bq")), col("an2"),
              col("bn2")) * 1000000).cast("long"))
          .filter(col("cos_fx") > 0)
          .select(col("src_id"), col("tgt_id"), col("cos_fx"))
          .materialize()
        val wA = Window.partitionBy(col("src_id"))
          .orderBy(col("cos_fx").desc, col("tgt_id").asc)
        val wB = Window.partitionBy(col("tgt_id"))
          .orderBy(col("cos_fx").desc, col("src_id").asc)
        val ranked = sc.withColumn("ra", row_number().over(wA))
          .withColumn("rb", row_number().over(wB))
        val denA = ranked.filter(col("ra") <= BitextK).groupBy(col("src_id"))
          .agg(sum(col("cos_fx")).as("sa"), count(lit(1)).as("ka"))
        val denB = ranked.filter(col("rb") <= BitextK).groupBy(col("tgt_id"))
          .agg(sum(col("cos_fx")).as("sb"), count(lit(1)).as("kb"))
        val margin = sc.join(denA, "src_id").join(denB, "tgt_id")
          .withColumn("margin_milli", call_function("div",
            lit(2000L) * col("cos_fx") * col("ka") * col("kb"),
            col("sa") * col("kb") + col("sb") * col("ka")))
        val wAm = Window.partitionBy(col("src_id"))
          .orderBy(col("margin_milli").desc, col("tgt_id").asc)
        val wBm = Window.partitionBy(col("tgt_id"))
          .orderBy(col("margin_milli").desc, col("src_id").asc)
        margin.withColumn("ba", row_number().over(wAm))
          .withColumn("bb", row_number().over(wBm))
          .filter(col("ba") === 1 && col("bb") === 1)
          .select(col("src_id"), col("tgt_id"), col("cos_fx"),
            col("margin_milli"))
      },
      Some(s"""
        WITH qn AS (
          SELECT vec_id, label,
                 [CAST(round(CAST(x AS DOUBLE) * ${VectorOps.Scale}) AS BIGINT)
                  for x in embedding] AS qv,
                 CAST(list_sum([q * q for q in
                   [CAST(round(CAST(x AS DOUBLE) * ${VectorOps.Scale}) AS BIGINT)
                    for x in embedding]]) AS BIGINT) AS n2
          FROM embeddings),
        cents AS (SELECT vec_id AS centroid_id, qv, n2 FROM qn
                  WHERE vec_id % $CentroidModulo = 0),
        scored_c AS (
          SELECT v.vec_id, v.label, c.centroid_id, v.qv, v.n2,
                 ${cosSql("v", "c")} AS ccos
          FROM qn v CROSS JOIN cents c),
        asg AS (
          SELECT vec_id, label, centroid_id, qv, n2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY ccos DESC, centroid_id ASC) AS rn
            FROM scored_c) WHERE rn = 1),
        src AS (SELECT centroid_id, vec_id AS src_id, qv, n2 FROM asg
                WHERE label < 5),
        tgt AS (SELECT centroid_id, vec_id AS tgt_id, qv, n2 FROM asg
                WHERE label >= 5),
        sc AS (
          SELECT src_id, tgt_id,
                 CAST(round(${cosSql("s", "t")} * 1000000) AS BIGINT)
                   AS cos_fx
          FROM src s JOIN tgt t USING (centroid_id)
          WHERE CAST(round(${cosSql("s", "t")} * 1000000) AS BIGINT) > 0),
        ranked AS (
          SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY cos_fx DESC, tgt_id ASC) AS ra,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cos_fx DESC, src_id ASC) AS rb
          FROM sc),
        dena AS (SELECT src_id, CAST(sum(cos_fx) AS BIGINT) AS sa,
                        count(*) AS ka
                 FROM ranked WHERE ra <= $BitextK GROUP BY 1),
        denb AS (SELECT tgt_id, CAST(sum(cos_fx) AS BIGINT) AS sb,
                        count(*) AS kb
                 FROM ranked WHERE rb <= $BitextK GROUP BY 1),
        m AS (
          SELECT sc.src_id, sc.tgt_id, sc.cos_fx,
                 (2000 * sc.cos_fx * a.ka * b.kb)
                   // (a.sa * b.kb + b.sb * a.ka) AS margin_milli
          FROM sc JOIN dena a USING (src_id) JOIN denb b USING (tgt_id)),
        best AS (
          SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY margin_milli DESC, tgt_id ASC) AS ba,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY margin_milli DESC, src_id ASC) AS bb
          FROM m)
        SELECT src_id, tgt_id, cos_fx, margin_milli FROM best
        WHERE ba = 1 AND bb = 1""")),

    // ---- MMR: diversified top-k rerank (relevance − redundancy) ------------
    // The retrieval-quality operator plain top-k can't give: of a probe's
    // 20-candidate shortlist, pick 5 that are RELEVANT but not
    // NEAR-DUPLICATES of each other — maximal marginal relevance
    // (Carbonell & Goldstein 1998), score = λ·rel − (1−λ)·max sim to the
    // already-picked set. The greedy is inherently sequential in k, so
    // it UNROLLS into MmrK fixed stages (k is a serving constant, never
    // data-sized); each stage is a keyed join of the shortlist against
    // the ≤k-row selected set plus one per-probe argmax window. The
    // expensive parts — IVF candidate generation and the ≤MmrCand²
    // per-probe pairwise sim table — are computed ONCE and materialized;
    // stages touch only shortlist-sized rows. All scoring is integer
    // (rel_fx, sim_fx, milli-λ — negative redundancy clamps at 0, and
    // there is NO division anywhere, so truncation semantics can't
    // diverge), making every greedy tie-break bit-identical in DuckDB's
    // identically-unrolled CTE chain.
    Q("sim_mmr",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val d = VectorOps.dotFn(e)
        val q = VectorOps.quantized(e)
        val cand = VectorOps.knnIvf(e, col("vec_id") < ProbeLimit,
            CentroidModulo, MmrCand)
          .select(col("probe_id"), col("neighbor_id").as("cand_id"),
            round(col("cosine") * 1000000).cast("long").as("rel_fx"))
        val candv = q.join(broadcast(cand), col("vec_id") === col("cand_id"))
          .select(col("probe_id"), col("cand_id"), col("rel_fx"),
            col("q"), col("n2"))
          .materialize()
        val c1 = candv.select(col("probe_id"), col("cand_id").as("a"),
          col("q").as("qa"), col("n2").as("na"))
        val c2 = candv.select(col("probe_id"), col("cand_id").as("b"),
          col("q").as("qb"), col("n2").as("nb"))
        val sims = c1.join(c2, Seq("probe_id"))
          .filter(col("a") =!= col("b"))
          .withColumn("sim_fx", round(VectorOps.cosine(
            d(col("qa"), col("qb")), col("na"), col("nb")) * 1000000)
            .cast("long"))
          .select(col("probe_id"), col("a"), col("b"), col("sim_fx"))
        val lam = MmrLambdaMilli
        // r18: the greedy selection runs as ONE cogroup pass, per probe
        // (replacing the MmrK-1 collect-and-broadcast rounds: 9+ global
        // job barriers of driver latency for what is per-probe-local
        // work). Per-probe state is bounded — MmrCand candidates and
        // MmrCand² sim entries — so the group handler is O(MmrK·MmrCand)
        // integer arithmetic, embarrassingly parallel across probes at
        // any probe-batch size: strictly better at 100 TB too, where a
        // million-probe batch would otherwise serialize MmrK rounds of
        // fleet-wide barriers. Exact same arithmetic as the unrolled
        // form (lam·rel − (1000−lam)·max(msim,0), ties by cand_id asc),
        // proven by the unchanged oracle.
        import s.implicits._
        val candK = candv.select(col("probe_id"), col("cand_id"),
          col("rel_fx")).as[(Long, Long, Long)]
        val simK = sims.as[(Long, Long, Long, Long)]
        candK.groupByKey(_._1)
          .cogroup(simK.groupByKey(_._1)) { (pid, cs, ss) =>
            mmrGreedy(pid, cs.map(t => (t._2, t._3)),
              ss.map(t => ((t._2, t._3), t._4)), lam, MmrK)
          }
          .toDF("probe_id", "neighbor_id", "step", "rel_fx", "mmr_fx")
          .select(col("probe_id"), col("neighbor_id"), col("step"),
            col("rel_fx"), col("mmr_fx"))
      },
      Some(mmrSql)),

    // ---- cosine operating curve (threshold sweep for the τ knob) -----------
    // The table an operator reads to CHOOSE RangeTau / HybridTau (the
    // mm_hamming_curve twin in embedding space): per 0.1-wide cosine
    // band, how many within-bucket pairs exist, and the running total a
    // radius τ would admit (cumulative from the most-similar band down).
    // ONE bucket-keyed pair pass — the sim_range_search candidate
    // population with the τ filter removed — a combinable ≤21-bin
    // histogram, and the cumulative window over the model-sized bin
    // table (allowlisted global). Band edges are floor(cos·10) over the
    // bit-identical fixed-point cosine, so bin membership cannot differ
    // between engines.
    Q("sim_tau_curve",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val d = VectorOps.dotFn(e)
        val asg = VectorOps.assignIvf(e, CentroidModulo)
        val a = asg.select(col("centroid_id"), col("vec_id").as("va"),
          col("q").as("qa"), col("n2").as("na"))
        val b = asg.select(col("centroid_id"), col("vec_id").as("vb"),
          col("q").as("qb"), col("n2").as("nb"))
        val hist = a.join(b, Seq("centroid_id"))
          .filter(col("va") < col("vb"))
          .withColumn("band", floor(VectorOps.cosine(
            d(col("qa"), col("qb")), col("na"), col("nb")) * 10)
            .cast("long"))
          .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        val w = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        hist.withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      },
      Some(s"""
        WITH $assignSql,
        sp AS (
          SELECT CAST(floor(${cosSql("a", "b")} * 10) AS BIGINT) AS band
          FROM asg a JOIN asg b ON b.centroid_id = a.centroid_id
                               AND a.vec_id < b.vec_id),
        hist AS (SELECT band, count(*) AS n_pairs FROM sp GROUP BY 1)
        SELECT band, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY band DESC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
        FROM hist""")),

    // ---- contrastive negative mining (hash pool → hard-negative cut) -------
    // The training-pair prep contrastive/embedding fine-tuning needs:
    // per probe, NegK negatives that are (a) guaranteed non-neighbors —
    // drawn from OUTSIDE the probe's IVF bucket, so the positive
    // candidates sim_knn_ivf would return are excluded by construction —
    // and (b) HARD: a salted-md5-ranked pool of NegPoolN is cut to the
    // NegK highest-cosine members, the "hard negatives" that actually
    // move a contrastive loss. Sampling is recomputation-stable (hash
    // order, no rand()), the expensive cosine runs only on the
    // pool (NegPoolN per probe), and the probe×corpus candidate join is
    // the bounded knnBrute broadcast shape. Everything is oracle-exact:
    // pool membership (integer hash ranks) and the final cut
    // (bit-identical cosine, id tie-break).
    Q("sim_negatives",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings")
        val d = VectorOps.dotFn(e)
        val asg = VectorOps.assignIvf(e, CentroidModulo)
        val probes = asg.filter(col("vec_id") < ProbeLimit)
          .select(col("vec_id").as("probe_id"),
            col("centroid_id").as("pcent"), col("q").as("pq"),
            col("n2").as("pn2"))
        val cand = asg.join(broadcast(probes),
            col("centroid_id") =!= col("pcent"))
          .withColumn("h", conv(substring(md5(concat(lit("neg|"),
            col("probe_id").cast("string"), lit("|"),
            col("vec_id").cast("string")).cast("binary")), 1, 15), 16, 10)
            .cast("long"))
        val wPool = Window.partitionBy(col("probe_id"))
          .orderBy(col("h").asc, col("vec_id").asc)
        val pool = cand
          .withColumn("pr", row_number().over(wPool))
          .filter(col("pr") <= NegPoolN)
          .withColumn("cosine", VectorOps.cosine(d(col("pq"), col("q")),
            col("pn2"), col("n2")))
        val wHard = Window.partitionBy(col("probe_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
        pool.withColumn("rank", row_number().over(wHard))
          .filter(col("rank") <= NegK)
          .select(col("probe_id"), col("vec_id").as("neg_id"),
            col("cosine"), col("rank"))
      },
      Some(s"""
        WITH $assignSql,
        probes AS (SELECT vec_id AS probe_id, centroid_id AS pcent,
                          qv AS pqv, n2 AS pn2
                   FROM asg WHERE vec_id < $ProbeLimit),
        cand AS (
          SELECT p.probe_id, c.vec_id, c.qv, c.n2, p.pqv, p.pn2,
                 CAST(('0x' || substr(md5('neg|' ||
                   CAST(p.probe_id AS VARCHAR) || '|' ||
                   CAST(c.vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM asg c JOIN probes p ON c.centroid_id <> p.pcent),
        pool AS (
          SELECT probe_id, vec_id, qv, n2, pqv, pn2 FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY h ASC, vec_id ASC) AS pr
            FROM cand) WHERE pr <= $NegPoolN),
        scored AS (
          SELECT probe_id, vec_id,
                 CAST(CAST(list_sum([pqv[i] * qv[i]
                   for i in generate_series(1, len(pqv))]) AS BIGINT)
                   AS DOUBLE) / sqrt(CAST(pn2 AS DOUBLE))
                   / sqrt(CAST(n2 AS DOUBLE)) AS cosine
          FROM pool)
        SELECT probe_id, vec_id AS neg_id, cosine, rank FROM (
          SELECT probe_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY probe_id
                   ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored) WHERE rank <= $NegK""")),

    // ---- k-means elbow curve (the k-selection operating table) -------------
    // The table an operator reads to CHOOSE IVF's k (the
    // hamming/cosine/jaccard-curve discipline applied to the clustering
    // knob): inertia — Σ min-distance² — for k ∈ {2,4,8,16} nested
    // seed prefixes, all four from ONE corpus pass. Seeds are the 16
    // salted-hash-smallest vectors ("elbow|" salt — independent of
    // other seeded ops), so each k's centroid set is a PREFIX of the
    // next: the per-k min-distances become 4 least() columns over the
    // same literal distance expressions, folded by a single combinable
    // aggregate and unpivoted with stack(). Distances are the exact
    // integer expansion n2 − 2·q·c + ‖c‖² (the sim_kmeans identity),
    // so inertia is an exact long and the whole curve sits under the
    // hash gate. Monotone nonincrease in k is spec-asserted.
    Q("sim_kmeans_elbow",
      (s, dir) => {
        val ks = Seq(2, 4, 8, 16)
        val emb = Tables.sharded(s, dir, "embeddings")
        val d = VectorOps.dotFn(emb)
        val q = VectorOps.quantized(emb)
        def litVec(v: Array[Long]) = array(v.map(lit).toSeq: _*)
        val seeds = q
          .orderBy(md5(concat(lit("elbow|"), col("vec_id").cast("string"))
            .cast("binary")).asc, col("vec_id").asc)
          .limit(ks.max).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        val dists = seeds.map { case (_, c) =>
          val cc = c.map(x => x * x).sum
          col("n2") - lit(2L) * d(col("q"), litVec(c)) + lit(cc)
        }
        val minCols = ks.map(k => least(dists.take(k): _*).as(s"d$k"))
        val folded = q.select(minCols: _*)
          .agg(count(lit(1)).as("n_vectors"),
            ks.map(k => sum(col(s"d$k")).as(s"i$k")): _*)
        folded.select(col("n_vectors"),
            expr(s"stack(${ks.length}, " +
              ks.map(k => s"CAST($k AS BIGINT), i$k").mkString(", ") +
              ") AS (k, inertia)"))
          .select(col("k"), col("n_vectors"), col("inertia"),
            call_function("div", col("inertia"), col("n_vectors"))
              .as("inertia_per_vec"))
      },
      Some(s"""
        WITH qn AS ($qnSql),
        rk AS (
          SELECT vec_id, row_number() OVER (
            ORDER BY md5('elbow|' || CAST(vec_id AS VARCHAR)), vec_id)
            AS rk
          FROM qn),
        cents AS (
          SELECT r.rk, q.qv,
                 CAST(list_sum([x * x for x in q.qv]) AS BIGINT) AS cc
          FROM rk r JOIN qn q USING (vec_id) WHERE r.rk <= 16),
        dist AS (
          SELECT v.vec_id, c.rk,
                 v.n2 - 2 * CAST(list_sum([v.qv[i] * c.qv[i]
                   for i in generate_series(1, len(v.qv))]) AS BIGINT)
                   + c.cc AS d
          FROM qn v CROSS JOIN cents c),
        m AS (
          SELECT vec_id,
                 min(CASE WHEN rk <= 2 THEN d END) AS d2,
                 min(CASE WHEN rk <= 4 THEN d END) AS d4,
                 min(CASE WHEN rk <= 8 THEN d END) AS d8,
                 min(d) AS d16
          FROM dist GROUP BY 1),
        g AS (
          SELECT count(*) AS n,
                 CAST(sum(d2) AS BIGINT) AS i2,
                 CAST(sum(d4) AS BIGINT) AS i4,
                 CAST(sum(d8) AS BIGINT) AS i8,
                 CAST(sum(d16) AS BIGINT) AS i16
          FROM m)
        SELECT CAST(2 AS BIGINT) AS k, n AS n_vectors, i2 AS inertia,
               CAST(i2 // n AS BIGINT) AS inertia_per_vec FROM g
        UNION ALL SELECT 4, n, i4, CAST(i4 // n AS BIGINT) FROM g
        UNION ALL SELECT 8, n, i8, CAST(i8 // n AS BIGINT) FROM g
        UNION ALL SELECT 16, n, i16, CAST(i16 // n AS BIGINT) FROM g""")),

    // ---- IVF cluster label purity (external clustering validation) ---------
    // sim_ivf_stats reports load balance (the operational health);
    // purity reports SEMANTIC health against the labels the fixture
    // carries: per bucket, the majority label's share. The eval every
    // clustering-based pipeline (SemDeDup, IVF routing, stratified
    // sampling by cluster) runs before trusting its buckets. Plan: the
    // assignIvf narrow pass (broadcast centroids, corpus never
    // shuffles), ONE (centroid, label) aggregate, the majority pick as
    // a rank-1 window over the model-sized aggregate table — purity is
    // an integer per-mille so the boundary is hash-gated.
    Q("sim_purity",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings")
        val lab = VectorOps.assignIvf(emb, CentroidModulo, keep = Seq("label"))
          .groupBy(col("centroid_id"), col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_l"))
        val w = Window.partitionBy(col("centroid_id"))
          .orderBy(col("n_l").desc, col("label").asc)
        lab
          .withColumn("n", sum(col("n_l")).over(
            Window.partitionBy(col("centroid_id"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("centroid_id"), col("n"),
            col("label").as("top_label"), col("n_l").as("n_top"),
            call_function("div", col("n_l") * 1000, col("n"))
              .as("purity_milli"))
      },
      Some(s"""
        WITH $assignSql,
        lab AS (
          SELECT a.centroid_id, CAST(e.label AS BIGINT) AS label,
                 count(*) AS n_l
          FROM asg a JOIN embeddings e USING (vec_id)
          GROUP BY 1, 2),
        t AS (
          SELECT *, CAST(sum(n_l) OVER (PARTITION BY centroid_id)
                   AS BIGINT) AS n,
                 row_number() OVER (PARTITION BY centroid_id
                   ORDER BY n_l DESC, label ASC) AS rn
          FROM lab)
        SELECT centroid_id, n, label AS top_label, n_l AS n_top,
               CAST((n_l * 1000) // n AS BIGINT) AS purity_milli
        FROM t WHERE rn = 1""")),

    // ---- embedding outlier detection (distance-to-centroid OOD flags) ------
    // The data-cleaning eval SemDeDup-style pipelines run FIRST: vectors
    // whose assignment cosine sits in their bucket's bottom decile are
    // out-of-distribution candidates — mislabeled rows, encoder
    // failures, noise. The decile threshold is RANK-exact (the member
    // at rank ⌈n/10⌉ ascending, vec_id tie-break) rather than an
    // interpolated percentile: interpolation arithmetic over doubles is
    // the one place two engines' quantile formulas can associate
    // differently, and the rank pick makes τ a value that EXISTS in the
    // data — bit-identical by the fixed-point cosine's determinism.
    // Plan: the assignIvfScored narrow pass, one per-bucket rank
    // window, one per-bucket aggregate.
    Q("sim_outliers",
      (s, dir) => {
        val asg = VectorOps.assignIvfScored(
          Tables.sharded(s, dir, "embeddings"), CentroidModulo)
          .select(col("vec_id"), col("centroid_id"), col("ccos"))
        val w = Window.partitionBy(col("centroid_id"))
          .orderBy(col("ccos").asc, col("vec_id").asc)
        val ranked = asg
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("centroid_id"))))
          .withColumn("k", expr("(n + 9) div 10"))
        val tau = ranked.filter(col("rn") === col("k"))
          .select(col("centroid_id"), col("ccos").as("tau"))
        ranked.groupBy(col("centroid_id"))
          .agg(max(col("n")).as("n"), max(col("k")).as("k"))
          .join(tau, "centroid_id")
          .join(ranked.join(tau, "centroid_id")
            .groupBy(col("centroid_id"))
            .agg(sum(when(col("ccos") < col("tau"), 1L).otherwise(0L))
              .as("n_below")), "centroid_id")
          .select(col("centroid_id"), col("n"), col("k"), col("tau"),
            col("n_below"))
      },
      Some(s"""
        WITH $assignScoredSql,
        ranked AS (
          SELECT vec_id, centroid_id, ccos,
                 CAST(row_number() OVER (PARTITION BY centroid_id
                   ORDER BY ccos ASC, vec_id ASC) AS BIGINT) AS rn,
                 count(*) OVER (PARTITION BY centroid_id) AS n
          FROM asgs),
        k AS (SELECT *, (n + 9) // 10 AS k FROM ranked),
        tau AS (
          SELECT centroid_id, ccos AS tau FROM k WHERE rn = k),
        g AS (
          SELECT centroid_id, max(n) AS n, max(k) AS k FROM k GROUP BY 1),
        below AS (
          SELECT r.centroid_id,
                 CAST(sum(CASE WHEN r.ccos < t.tau THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_below
          FROM ranked r JOIN tau t USING (centroid_id)
          GROUP BY 1)
        SELECT g.centroid_id, g.n, g.k, t.tau, b.n_below
        FROM g JOIN tau t USING (centroid_id)
        JOIN below b USING (centroid_id)""")),

    // ---- embedding drift between snapshots (PSI's vector twin) -------------
    // txt_drift_psi watches token distributions; this watches the
    // EMBEDDING space: per label, the cosine between the old and new
    // snapshots' mean vectors (vec_id-parity halves — swap in real
    // snapshot frames unchanged). An encoder change, upstream
    // preprocessing drift, or population shift pulls a label's means
    // apart long before downstream metrics move. cos(mean_a, mean_b) ≡
    // cos(sum_a, sum_b) — so the means are never computed: per-dim
    // INTEGER sum vectors from one combinable aggregate (the sim_kmeans
    // update shape, 2·|labels| rows of 64 sums), the dot/norms exact
    // longs over those sums, one mirrored IEEE cosine at the end.
    Q("sim_embedding_drift",
      (s, dir) => {
        val q = VectorOps.quantized(
          Tables.sharded(s, dir, "embeddings"), keep = Seq("label"))
          .withColumn("half",
            when(col("vec_id") % 2 === 0, "old").otherwise("new"))
        val sumCols = (1 to Dims).map(i =>
          sum(element_at(col("q"), i)).as(s"s$i"))
        val sums = q.groupBy(col("label").cast("long").as("label"),
            col("half"))
          .agg(count(lit(1)).as("n"), sumCols: _*)
        def side(h: String, p: String) = sums.filter(col("half") === h)
          .select(col("label") +: col("n").as(s"n_$h") +:
            (1 to Dims).map(i => col(s"s$i").as(s"$p$i")): _*)
        val joined = side("old", "o").join(side("new", "w"), "label")
        val dot = (1 to Dims).map(i => col(s"o$i") * col(s"w$i"))
          .reduce(_ + _)
        val na = (1 to Dims).map(i => col(s"o$i") * col(s"o$i"))
          .reduce(_ + _)
        val nb = (1 to Dims).map(i => col(s"w$i") * col(s"w$i"))
          .reduce(_ + _)
        joined.select(col("label"), col("n_old"), col("n_new"),
          (dot.cast("double") / sqrt(na.cast("double")) /
            sqrt(nb.cast("double"))).as("drift_cos"))
      },
      Some(s"""
        WITH qn AS ($qnSql),
        ex AS (
          SELECT vec_id, g.i AS d, qv[g.i] AS q
          FROM qn CROSS JOIN generate_series(1, $Dims) AS g(i)),
        lab AS (
          SELECT e.vec_id, CAST(m.label AS BIGINT) AS label,
                 CASE WHEN e.vec_id % 2 = 0 THEN 'old' ELSE 'new' END
                   AS half,
                 e.d, e.q
          FROM ex e JOIN embeddings m ON m.vec_id = e.vec_id),
        cnt AS (
          SELECT CAST(label AS BIGINT) AS label,
                 CASE WHEN vec_id % 2 = 0 THEN 'old' ELSE 'new' END
                   AS half,
                 count(*) AS n
          FROM embeddings GROUP BY 1, 2),
        s AS (
          SELECT label, half, d, CAST(sum(q) AS BIGINT) AS sd
          FROM lab GROUP BY 1, 2, 3),
        j AS (
          SELECT a.label,
                 CAST(sum(a.sd * b.sd) AS BIGINT) AS dot,
                 CAST(sum(a.sd * a.sd) AS BIGINT) AS na,
                 CAST(sum(b.sd * b.sd) AS BIGINT) AS nb
          FROM s a JOIN s b
            ON b.label = a.label AND b.d = a.d
           AND a.half = 'old' AND b.half = 'new'
          GROUP BY 1)
        SELECT j.label, co.n AS n_old, cn.n AS n_new,
               CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE))
                 / sqrt(CAST(nb AS DOUBLE)) AS drift_cos
        FROM j
        JOIN cnt co ON co.label = j.label AND co.half = 'old'
        JOIN cnt cn ON cn.label = j.label AND cn.half = 'new'"""))
  )
}
