package graft

import graft.operators.{Dedup, Similarity}

/** Generated DuckDB oracle SQL for the hash-based dedup/similarity
  * entries. The engine's hash constants (FNV-1a permutation mixers,
  * LSH hyperplane matrices) are inlined as literals from the SAME Scala
  * values the engine uses — one source of truth, so the oracle verifies
  * the exact signature family, not a lookalike.
  *
  * Numeric parity notes:
  *  - FNV-1a runs in HUGEINT (128-bit) with explicit mod-2^64 wrapping;
  *    signed/unsigned conversion matches JVM Long two's complement.
  *  - Hyperplane components are exact in IEEE doubles (see
  *    [[Similarity.planeMatrix]]), so decimal literals round-trip.
  *  - Dot products / norms use list_reduce over index-ordered products —
  *    the same sequential accumulation order as the engine's loops, so
  *    doubles are bit-identical (proven by embed_cosine_topk in r1).
  */
object OraclesGen {

  /** FNV-1a 64 over the UTF-8 bytes of `e` (ASCII corpus), as unsigned
    * HUGEINT in [0, 2^64). */
  private[graft] def fnvHuge(e: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(regexp_extract_all($e, '.'), c -> CAST(ord(c) AS HUGEINT))),
       |    (a, b) -> ((a - (a % 256) + CAST(xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT)) * 1099511628211)
       |              % CAST(18446744073709551616 AS HUGEINT))""".stripMargin

  /** Tokenize documents into per-doc distinct word lists + exploded
    * tokens + one FNV hash per distinct word (shared CTE prefix). */
  private[graft] val tokenCtes: String =
    s"""d AS (
       |  SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), w -> len(w) > 0)) AS ws
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM d)""".stripMargin

  private def longList(xs: Seq[Long]): String = xs.mkString("[", ", ", "]")

  private def planeLit(m: Array[Array[Double]]): String =
    m.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  // ------------------------------------------------------------- minhash

  /** The MinHash→LSH candidate chain as a reusable CTE prefix ending
    * with `lshp`(id_a, id_b, est_jaccard) at the ≥ 0.7 gate — shared by
    * the pair query and the fuzzy-dedup e2e chain. */
  /** Signature-building prefix shared by the batch pair queries and the
    * streaming first-seen oracle: everything through `sigs(id, sig)`. */
  private[graft] val minhashSigCtes: String = {
    val consts = longList(Dedup.permConsts.toIndexedSeq)
    val maxList = longList(Seq.fill(Dedup.NumPerms)(Long.MaxValue))
    s"""$tokenCtes,
       |wh AS (
       |  SELECT w, CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS h0
       |  FROM (SELECT w, ${fnvHuge("w")} AS h FROM (SELECT DISTINCT w FROM tok))),
       |perm AS (SELECT unnest(range(64)) AS p, unnest($consts) AS c),
       |hp AS (
       |  SELECT doc_id, p, min(CAST(CASE WHEN mm >= 9223372036854775808 THEN mm - 18446744073709551616 ELSE mm END AS BIGINT)) AS mh
       |  FROM (
       |    SELECT doc_id, p,
       |      ((CASE WHEN x < 0 THEN CAST(x AS HUGEINT) + 18446744073709551616 ELSE CAST(x AS HUGEINT) END) * 1099511628211) % 18446744073709551616 AS mm
       |    FROM (SELECT t.doc_id, perm.p, xor(wh.h0, perm.c) AS x
       |          FROM tok t JOIN wh USING (w) CROSS JOIN perm))
       |  GROUP BY doc_id, p),
       |sig0 AS (SELECT doc_id, list(mh ORDER BY p) AS sig FROM hp GROUP BY doc_id),
       |sigs AS MATERIALIZED (SELECT d.doc_id AS id, COALESCE(s.sig, $maxList) AS sig FROM d LEFT JOIN sig0 s USING (doc_id))""".stripMargin
  }

  private val minhashPairCtes: String = {
    s"""$minhashSigCtes,
       |banded AS (SELECT id, sig, unnest(range(8)) AS band FROM sigs),
       |bs AS (SELECT id, sig, band, sig[band*8+1 : band*8+8] AS band_sig FROM banded),
       |bn AS (SELECT band, band_sig, count(*) AS n FROM bs GROUP BY band, band_sig),
       |b2 AS (SELECT bs.* FROM bs JOIN bn USING (band, band_sig) WHERE bn.n <= 1000),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM b2 a JOIN b2 b ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
       |lshp AS (
       |  SELECT id_a, id_b, round(est, 6) AS est_jaccard FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_filter(range(64), i -> sig_a[i+1] = sig_b[i+1])) AS DOUBLE) / 64 AS est
       |    FROM pairs) t
       |  WHERE est >= 0.7)""".stripMargin
  }

  val dedupMinhashLsh: String =
    s"""WITH $minhashPairCtes
       |SELECT id_a, id_b, est_jaccard FROM lshp""".stripMargin

  /** Fuzzy-dedup e2e: the production near-dup pipeline as one chain —
    * MinHash→LSH candidates, recursive-CTE connected components over
    * the candidate graph (singletons are their own cluster), and the
    * canonical pick (most words, lowest id) per cluster. */
  val dedupFuzzyE2e: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |e2 AS (SELECT id_a AS src, id_b AS dst FROM lshp
       |       UNION ALL SELECT id_b, id_a FROM lshp),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM (SELECT DISTINCT src AS id FROM e2) n
       |  UNION
       |  SELECT e2.dst, r.lbl FROM reach r JOIN e2 ON e2.src = r.id
       |  WHERE r.lbl < e2.dst),
       |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
       |nw AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      w -> len(w) > 0)) AS INT) AS n_words
       |  FROM documents),
       |allc AS (
       |  SELECT nw.doc_id, COALESCE(comp.component, nw.doc_id) AS component,
       |    nw.n_words
       |  FROM nw LEFT JOIN comp ON comp.id = nw.doc_id)
       |SELECT doc_id, component,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
       |  n_words,
       |  row_number() OVER (PARTITION BY component
       |    ORDER BY n_words DESC, doc_id) = 1 AS is_canonical
       |FROM allc""".stripMargin

  /** Streaming LSH first-seen: the bucket holder is the min-id document
    * per (band, band-slice) — exactly what "claim on arrival" makes the
    * stateful operator keep — every later bucket member compares its
    * full signature against the holder's, and the transitive claim
    * chain (parent = min matching holder) resolves by recursion. Must
    * agree with StreamingNearDup within one drain. */
  val dedupStreamLsh: String =
    s"""WITH RECURSIVE $minhashSigCtes,
       |banded AS (SELECT id, sig, unnest(range(8)) AS band FROM sigs),
       |bs AS (SELECT id, sig, band, sig[band*8+1 : band*8+8] AS band_sig FROM banded),
       |hold AS (SELECT band, band_sig, min(id) AS holder FROM bs GROUP BY band, band_sig),
       |cand AS (
       |  SELECT b.id, h.holder, hs.sig AS holder_sig, b.sig AS my_sig
       |  FROM bs b JOIN hold h USING (band, band_sig)
       |  JOIN sigs hs ON hs.id = h.holder
       |  WHERE h.holder < b.id),
       |est AS (
       |  SELECT DISTINCT id, holder,
       |    CAST(len(list_filter(range(64), i -> my_sig[i+1] = holder_sig[i+1])) AS DOUBLE) / 64 AS est
       |  FROM cand),
       |edges AS (
       |  SELECT id AS child, min(holder) AS parent
       |  FROM est WHERE est >= 0.7 GROUP BY id),
       |walk(pid, anc, depth) AS (
       |  SELECT child, parent, CAST(1 AS BIGINT) FROM edges
       |  UNION ALL
       |  SELECT w.pid, e.parent, w.depth + 1
       |  FROM walk w JOIN edges e ON w.anc = e.child),
       |res AS (
       |  SELECT pid, anc, depth,
       |    row_number() OVER (PARTITION BY pid ORDER BY depth DESC) AS rn
       |  FROM walk)
       |SELECT doc.doc_id,
       |  e.child IS NULL AS is_first,
       |  COALESCE(r.anc, doc.doc_id) AS canonical_id,
       |  COALESCE(r.depth, CAST(0 AS BIGINT)) AS chain_depth
       |FROM (SELECT doc_id FROM documents) doc
       |LEFT JOIN edges e ON e.child = doc.doc_id
       |LEFT JOIN (SELECT pid, anc, depth FROM res WHERE rn = 1) r
       |  ON r.pid = doc.doc_id""".stripMargin

  /** Incremental dedup through the persisted LSH index: base docs
    * (id % 10 != 0) are banded with the build-time hot-bucket cap,
    * delta docs (id % 10 = 0) probe it; the engine's probe-time
    * hot-key guard is a NO-OP here (the probe runs right after the
    * build, where every surviving key is already ≤ the cap), so the
    * capped-base join below is the exact candidate set. Per delta doc
    * the verdict is the best agreement ≥ 0.7 (ties to the smaller base
    * id). Must equal the engine's probe through the parquet index —
    * the parquet round-trip of the long signatures is lossless, so
    * this is a pure re-derivation from the corpus. */
  // multi-referenced CTEs are MATERIALIZED: without it DuckDB re-inlines
  // the whole upstream chain per reference — at sf1 the minhash chain
  // expands ~5x and the run spills >80 GB of temp before failing (the
  // embed_ivf_append sf10 lesson, re-learned on this oracle in r14)
  val dedupIncremental: String =
    s"""WITH $minhashSigCtes,
       |base AS MATERIALIZED (SELECT id, sig FROM sigs WHERE id % 10 <> 0),
       |delta AS MATERIALIZED (SELECT id, sig FROM sigs WHERE id % 10 = 0),
       |bb AS MATERIALIZED (
       |  SELECT id, band, sig[band*8+1 : band*8+8] AS band_sig
       |  FROM (SELECT id, sig, unnest(range(8)) AS band FROM base)),
       |bn AS (SELECT band, band_sig, count(*) AS n FROM bb GROUP BY band, band_sig),
       |idx AS (SELECT bb.* FROM bb JOIN bn USING (band, band_sig) WHERE bn.n <= ${graft.operators.LshIndex.MaxBucket}),
       |db AS (
       |  SELECT id, band, sig[band*8+1 : band*8+8] AS band_sig
       |  FROM (SELECT id, sig, unnest(range(8)) AS band FROM delta)),
       |cand AS (
       |  SELECT DISTINCT d.id AS delta_id, i.id AS base_id
       |  FROM db d JOIN idx i USING (band, band_sig)),
       |est AS MATERIALIZED (
       |  SELECT c.delta_id, c.base_id,
       |    CAST(len(list_filter(range(64), i -> ds.sig[i+1] = bs.sig[i+1])) AS DOUBLE) / 64 AS est
       |  FROM cand c JOIN delta ds ON ds.id = c.delta_id
       |  JOIN base bs ON bs.id = c.base_id),
       |nc AS (SELECT delta_id, count(*) AS n_cand FROM est GROUP BY delta_id),
       |best AS (
       |  SELECT delta_id, base_id, est,
       |    row_number() OVER (PARTITION BY delta_id ORDER BY est DESC, base_id) AS rn
       |  FROM est WHERE est >= 0.7)
       |SELECT d.id AS doc_id,
       |  COALESCE(nc.n_cand, 0) AS n_cand,
       |  b.base_id IS NOT NULL AS is_dup,
       |  b.base_id AS dup_of,
       |  round(b.est, 6) AS est_jaccard
       |FROM delta d
       |LEFT JOIN nc ON nc.delta_id = d.id
       |LEFT JOIN (SELECT delta_id, base_id, est FROM best WHERE rn = 1) b
       |  ON b.delta_id = d.id""".stripMargin

  /** Streaming ingestion against the persisted index: the 5-batch
    * recurrence unrolled — batch k's candidates come from the capped
    * base index UNION the bands of documents ACCEPTED in batches < k
    * (appends bypass the build-time cap, like the engine's
    * [[graft.operators.LshIndex.append]]); within a batch, documents
    * see only the index as of the batch start, and each batch re-checks
    * the hot-bucket cap against the CURRENT index population — the
    * engine's probe-time guard ([[graft.operators.LshIndex.probe]]):
    * a key pushed past the cap by appends yields no candidates until
    * compaction re-drops it. */
  val dedupStreamIndex: String = {
    val batches = 5
    val perBatch = (0 until batches).map { k =>
      // MATERIALIZED: each ix$k is referenced three times (the next
      // batch's union, the candidate join, and the hot-key recap);
      // inlined CTEs would re-expand the whole recurrence chain per
      // reference (3^batches blowup — the embed_ivf_append sf10 lesson)
      val ix =
        if (k == 0)
          s"ix$k AS MATERIALIZED (SELECT id, band, band_sig FROM idx0)"
        else
          s"""ix$k AS MATERIALIZED (
             |  SELECT * FROM ix${k - 1}
             |  UNION ALL
             |  SELECT b.id, b.band, b.band_sig FROM db b JOIN acc${k - 1} a USING (id))""".stripMargin
      s"""$ix,
         |nk$k AS (
         |  SELECT band, band_sig, count(*) AS n FROM ix$k
         |  GROUP BY band, band_sig),
         |cand$k AS (
         |  SELECT DISTINCT d.id AS delta_id, i.id AS base_id
         |  FROM (SELECT id, band, band_sig FROM db WHERE batch = $k) d
         |  JOIN ix$k i USING (band, band_sig)
         |  JOIN nk$k nb USING (band, band_sig)
         |  WHERE nb.n <= ${graft.operators.LshIndex.MaxBucket}),
         |est$k AS MATERIALIZED (
         |  SELECT c.delta_id, c.base_id,
         |    CAST(len(list_filter(range(64), i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 64 AS est
         |  FROM cand$k c JOIN sigs a ON a.id = c.delta_id
         |  JOIN sigs b ON b.id = c.base_id),
         |best$k AS (
         |  SELECT delta_id, base_id, est,
         |    row_number() OVER (PARTITION BY delta_id ORDER BY est DESC, base_id) AS rn
         |  FROM est$k WHERE est >= 0.7),
         |acc$k AS (
         |  SELECT d.id FROM delta d WHERE d.batch = $k AND NOT EXISTS (
         |    SELECT 1 FROM est$k e WHERE e.delta_id = d.id AND e.est >= 0.7))""".stripMargin
    }.mkString(",\n")
    val union = (0 until batches).map { k =>
      s"""SELECT d.id AS doc_id, d.batch AS batch,
         |  b2.base_id IS NOT NULL AS is_dup,
         |  b2.base_id AS dup_of, round(b2.est, 6) AS est_jaccard
         |FROM delta d
         |LEFT JOIN (SELECT delta_id, base_id, est FROM best$k WHERE rn = 1) b2
         |  ON b2.delta_id = d.id
         |WHERE d.batch = $k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $minhashSigCtes,
       |base AS (SELECT id, sig FROM sigs WHERE id % 10 <> 0),
       |delta AS MATERIALIZED (
       |  SELECT id, sig, CAST((id // 10) % 5 AS INT) AS batch
       |  FROM sigs WHERE id % 10 = 0),
       |bb AS MATERIALIZED (
       |  SELECT id, band, sig[band*8+1 : band*8+8] AS band_sig
       |  FROM (SELECT id, sig, unnest(range(8)) AS band FROM base)),
       |bn AS (SELECT band, band_sig, count(*) AS n FROM bb GROUP BY band, band_sig),
       |idx0 AS (SELECT bb.id, bb.band, bb.band_sig FROM bb JOIN bn USING (band, band_sig) WHERE bn.n <= ${graft.operators.LshIndex.MaxBucket}),
       |db AS MATERIALIZED (
       |  SELECT id, batch, band, sig[band*8+1 : band*8+8] AS band_sig
       |  FROM (SELECT id, sig, batch, unnest(range(8)) AS band FROM delta)),
       |$perBatch
       |$union""".stripMargin
  }

  /** Maintenance-trigger policy (QueriesText.indexMaintenancePolicy):
    * re-derives the engine's two compaction rules from the corpus —
    * appended fraction = delta band rows / total surviving band rows
    * (base band rows = the capped-survivor count the index physically
    * stores; delta appends bypass the cap, 8 band rows per doc), and
    * segment count = base + the three tagged append segments. */
  val indexMaintenancePolicy: String =
    s"""WITH $minhashSigCtes,
       |base AS (SELECT id, sig FROM sigs WHERE id % 10 <> 0),
       |delta AS (SELECT id FROM sigs WHERE id % 10 = 0),
       |bb AS (
       |  SELECT id, band, sig[band*8+1 : band*8+8] AS band_sig
       |  FROM (SELECT id, sig, unnest(range(8)) AS band FROM base)),
       |bn AS (SELECT band, band_sig, count(*) AS n FROM bb GROUP BY band, band_sig),
       |stats AS (
       |  SELECT
       |    CAST((SELECT COALESCE(sum(n), 0) FROM bn WHERE n <= ${graft.operators.LshIndex.MaxBucket}) AS BIGINT) AS base_rows,
       |    CAST(8 * (SELECT count(*) FROM delta) AS BIGINT) AS delta_rows,
       |    CAST(1 + (SELECT count(DISTINCT (id // 10) % 3) FROM delta) AS BIGINT) AS segments),
       |vals AS (
       |  SELECT
       |    CAST(delta_rows AS DOUBLE) / CAST(base_rows + delta_rows AS DOUBLE) AS frac,
       |    segments
       |  FROM stats),
       |rules AS (
       |  SELECT 'appended_frac' AS metric, frac AS value, 0.05 AS threshold,
       |    frac >= 0.05 AS due FROM vals
       |  UNION ALL
       |  SELECT 'segments', CAST(segments AS DOUBLE), 16.0, segments >= 16 FROM vals)
       |SELECT metric, value, threshold, due FROM rules
       |UNION ALL
       |SELECT 'compact_due',
       |  CAST((SELECT count(*) FROM rules WHERE due) AS DOUBLE), 1.0,
       |  (SELECT count(*) FROM rules WHERE due) >= 1""".stripMargin

  /** IVF refit-trigger policy (QueriesText.ivfRefitPolicy): re-derives
    * the engine's two refit rules from the corpus — the base fit chain
    * (16 centroids, 2 Lloyd iterations, the shared ivf CTE fold), the
    * biased delta assigned to the FINAL centroids, per-cluster counts,
    * then the imbalance fold in cluster order (squares summed
    * sequentially — the same op order as the engine's driver-side
    * fold over its persisted per-list counts), × k, rounded to 6. */
  val ivfRefitPolicy: String =
    s"""WITH e AS (
       |  SELECT vec_id AS id, embedding AS vec FROM embeddings
       |  WHERE vec_id % 10 <> 0),
       |${ivfSeedCte("c0", "e", "16")},
       |${ivfAssignCte("a1", "e", "c0")},
       |${ivfUpdateCte("c1", "a1", "c0", 64)},
       |${ivfAssignCte("a2", "e", "c1")},
       |${ivfUpdateCte("c2", "a2", "c1", 64)},
       |d AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> x + CAST(2.0 AS FLOAT)) AS vec
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |${ivfAssignCte("ad", "d", "c2")},
       |dc AS (SELECT cluster, count(*) AS n FROM ad GROUP BY cluster),
       |tot AS (SELECT
       |  (SELECT count(*) FROM e) AS bn,
       |  (SELECT count(*) FROM d) AS dn),
       |sh AS (SELECT cluster,
       |  CAST(n AS DOUBLE) / CAST((SELECT dn FROM tot) AS DOUBLE) AS share
       |  FROM dc),
       |vals AS (SELECT
       |  CAST(dn AS DOUBLE) / CAST(bn + dn AS DOUBLE) AS frac,
       |  round(16.0 * (SELECT list_reduce(
       |      list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(list(share ORDER BY cluster), v -> v * v)),
       |      (a, b) -> a + b) FROM sh), 6) AS skew
       |  FROM tot),
       |rules AS (
       |  SELECT 'appended_frac' AS metric, frac AS value, 0.25 AS threshold,
       |    frac >= 0.25 AS due FROM vals
       |  UNION ALL
       |  SELECT 'list_skew', skew, 4.0, skew >= 4.0 FROM vals)
       |SELECT metric, value, threshold, due FROM rules
       |UNION ALL
       |SELECT 'refit_due',
       |  CAST((SELECT count(*) FROM rules WHERE due) AS DOUBLE), 1.0,
       |  (SELECT count(*) FROM rules WHERE due) >= 1""".stripMargin

  // ------------------------------------------------------------- simhash

  /** Per-doc simhash signature prefix (everything through
    * `shs`(id, sh, hu)) — shared with the sampled-oracle pair
    * re-verification, which recomputes signatures only for documents
    * appearing in a slice of the engine's emitted pairs. */
  private[graft] val simhashSigCtes: String = {
    // 2^63 exceeds BIGINT — emit via BigInt so DuckDB parses HUGEINT
    val powList = (0 until 64).map(j => (BigInt(1) << j).toString)
      .mkString("[", ", ", "]")
    s"""$tokenCtes,
       |wh AS (
       |  SELECT w, ${fnvHuge("w")} AS hu FROM (SELECT DISTINCT w FROM tok)),
       |bitj AS (SELECT unnest(range(64)) AS j, unnest($powList) AS pw),
       |bits AS (
       |  SELECT doc_id, j, pw, sum(CASE WHEN (hu // pw) % 2 = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM tok JOIN wh USING (w) CROSS JOIN bitj
       |  GROUP BY doc_id, j, pw),
       |sh0 AS (
       |  SELECT doc_id, sum(CASE WHEN acc > 0 THEN pw ELSE CAST(0 AS HUGEINT) END) AS hu
       |  FROM bits GROUP BY doc_id),
       |shs AS (
       |  SELECT d.doc_id AS id,
       |    COALESCE(CAST(CASE WHEN s.hu >= 9223372036854775808 THEN s.hu - 18446744073709551616 ELSE s.hu END AS BIGINT), 0) AS sh,
       |    COALESCE(s.hu, CAST(0 AS HUGEINT)) AS hu
       |  FROM d LEFT JOIN sh0 s USING (doc_id))""".stripMargin
  }

  val dedupSimhash: String = {
    val chunkPows = longList((0 until 4).map(c => 1L << (16 * c)))
    s"""WITH $simhashSigCtes,
       |cp AS (SELECT unnest(range(4)) AS c, unnest($chunkPows) AS cpw),
       |chunks AS (SELECT id, sh, c, (hu // cpw) % 65536 AS cv FROM shs CROSS JOIN cp),
       |bn AS (SELECT c, cv, count(*) AS n FROM chunks GROUP BY c, cv),
       |c2 AS (SELECT chunks.* FROM chunks JOIN bn USING (c, cv) WHERE bn.n <= 10000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
       |  FROM c2 a JOIN c2 b ON a.c = b.c AND a.cv = b.cv AND a.id < b.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin
  }

  // ----------------------------------------------------------- embeddings

  /** Sequential-order dot product of two expressions addressing DuckDB
    * lists (bit-identical to the engine's index-ordered loop). */
  private def seqDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(least(len($a), len($b))),
       |        i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x,y) -> x+y)""".stripMargin

  /** sign-bit bucketing CTE: per vec_id, sum of 2^p over planes with
    * positive dot. `planesLit`/`powsLit` are inlined constants. */
  private def signBitsCte(nPlanes: Int, planesLit: String, powsLit: String): String =
    s"""pl AS (SELECT unnest(range($nPlanes)) AS p, unnest($powsLit) AS pw, unnest($planesLit) AS plane),
       |e AS (SELECT vec_id, embedding AS vec FROM embeddings),
       |sb AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN pw ELSE 0 END) AS BIGINT) AS allbits
       |  FROM (
       |    SELECT e.vec_id, pl.pw,
       |      list_reduce(list_transform(range(least(len(pl.plane), len(e.vec))),
       |        i -> pl.plane[i+1] * CAST(e.vec[i+1] AS DOUBLE)), (x,y) -> x+y) AS dot
       |    FROM e CROSS JOIN pl)
       |  GROUP BY vec_id)""".stripMargin

  private def cosineSelect(aVec: String, bVec: String): String =
    s"""CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END AS sim
       |  FROM (
       |    SELECT *,
       |      ${seqDot(aVec, bVec)} AS dot,
       |      sqrt(${seqDot(aVec, aVec)}) * sqrt(${seqDot(bVec, bVec)}) AS denom""".stripMargin

  val embedAnnLsh: String = {
    val bits = 4; val sigs = 15
    val planes = Similarity.planeMatrix(bits * sigs, 64)
    val pows = longList((0 until bits * sigs).map(1L << _))
    val sigPows = longList((0 until sigs).map(s => 1L << (bits * s)))
    s"""WITH ${signBitsCte(bits * sigs, planeLit(planes), pows)},
       |sp AS (SELECT unnest(range($sigs)) AS sig, unnest($sigPows) AS spw),
       |qb AS (SELECT e.vec_id AS q_id, e.vec AS q_vec, sp.sig, (sb.allbits // sp.spw) % ${1 << bits} AS bucket
       |       FROM e JOIN sb USING (vec_id) CROSS JOIN sp WHERE vec_id < 20),
       |cb0 AS (SELECT e.vec_id AS n_id, e.vec AS n_vec, sp.sig, (sb.allbits // sp.spw) % ${1 << bits} AS bucket
       |        FROM e JOIN sb USING (vec_id) CROSS JOIN sp),
       |bn AS (SELECT sig, bucket, count(*) AS n FROM cb0 GROUP BY sig, bucket),
       |cb AS (SELECT cb0.* FROM cb0 JOIN bn USING (sig, bucket) WHERE bn.n <= 10000),
       |cand AS (
       |  SELECT DISTINCT q.q_id, c.n_id, q.q_vec, c.n_vec
       |  FROM qb q JOIN cb c ON q.sig = c.sig AND q.bucket = c.bucket AND q.q_id <> c.n_id),
       |sc AS (
       |  SELECT q_id, n_id, ${cosineSelect("q_vec", "n_vec")}
       |    FROM cand))
       |SELECT q_id, n_id, rank, sim FROM (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
       |  FROM sc) t
       |WHERE rank <= 5""".stripMargin
  }

  /** Full SQL re-derivation of the deterministic-k-means IVF path
    * ([[Similarity.ivfFit]]/[[Similarity.ivfTopK]]): init = 16 lowest-id
    * vectors, 2 Lloyd iterations with id-ordered sequential member sums
    * (list_reduce over `list(vec ORDER BY id)` — the same fold order as
    * the engine's sorted `aggregate`), cosine assignment with
    * cluster-id tie-break, probe-4 retrieval, exact rescoring, top-5,
    * recall vs brute force. */
  /** Cosine of a vector expression against a centroid expression (both
    * addressed as DuckDB lists). */
  private def ivfSim(v: String, c: String) =
    s"(${seqDot(v, c)}) / (sqrt(${seqDot(v, v)}) * sqrt(${seqDot(c, c)}))"

  /** Flat nearest-centroid assignment CTE ([[Similarity.ivfAssign]]):
    * per-id argmax of cosine over `cents`, ties to the lowest cluster. */
  private def ivfAssignCte(name: String, src: String, cents: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT id, vec, cluster FROM (
       |    SELECT id, vec, cluster,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
       |    FROM (
       |      SELECT s.id, s.vec, $cents.cluster,
       |        ${ivfSim("s.vec", s"$cents.centroid")} AS sim
       |      FROM $src s CROSS JOIN $cents) s0) s1
       |  WHERE rn = 1)""".stripMargin

  /** Centroid init CTE ([[Similarity]]'s seedCents): the `kSql`
    * lowest-id vectors of `src`, widened to double, numbered 0..k-1. */
  private def ivfSeedCte(name: String, src: String, kSql: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cluster,
       |    list_transform(vec, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM (SELECT id, vec FROM (
       |      SELECT id, vec, row_number() OVER (ORDER BY id) AS rn FROM $src) z0
       |    WHERE rn <= $kSql) i)""".stripMargin

  /** One Lloyd update CTE, the two-level ordered tree fold mirroring
    * Similarity.lloydUpdate exactly: level 1 folds members in id order
    * within chunk `id // W`, level 2 folds chunk partial sums in chunk
    * order, then one division by the total count — same operand order,
    * bit-reproducible. Empty clusters keep the previous centroid. */
  private def ivfUpdateCte(name: String, assigned: String, prev: String,
      dim: Int): String = {
    val w = graft.operators.Similarity.DefaultChunkWidth
    s"""$name AS MATERIALIZED (
       |  SELECT p.cluster, COALESCE(u.centroid, p.centroid) AS centroid
       |  FROM $prev p LEFT JOIN (
       |    SELECT cluster,
       |      list_transform(range($dim), d ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(pss, ps -> ps[d+1])),
       |          (a, b) -> a + b) / total_cnt) AS centroid
       |    FROM (
       |      SELECT cluster, list(psum ORDER BY chunk) AS pss,
       |        CAST(sum(cnt) AS BIGINT) AS total_cnt
       |      FROM (
       |        SELECT cluster, chunk,
       |          list_transform(range($dim), d ->
       |            list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |              list_transform(ms, m -> CAST(m[d+1] AS DOUBLE))),
       |              (a, b) -> a + b)) AS psum,
       |          len(ms) AS cnt
       |        FROM (SELECT cluster, id // $w AS chunk,
       |                list(vec ORDER BY id) AS ms
       |              FROM $assigned GROUP BY cluster, chunk) g1) g2
       |      GROUP BY cluster) g3) u USING (cluster))""".stripMargin
  }

  /** The shared WITH-fragment re-deriving [[Similarity.ivfFit]] +
    * [[Similarity.ivfAssign]] in SQL: `e` (id, vec from embeddings),
    * `c0` init = k lowest-id vectors, two Lloyd iterations with
    * id-ordered sequential member sums, `a3` = the final (id, vec,
    * cluster) assignment. Bit-reproducible against the engine. */
  private def ivfAssignedCtes(kSql: String, dim: Int): String =
    s"""e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |${ivfSeedCte("c0", "e", kSql)},
       |${ivfAssignCte("a1", "e", "c0")},
       |${ivfUpdateCte("c1", "a1", "c0", dim)},
       |${ivfAssignCte("a2", "e", "c1")},
       |${ivfUpdateCte("c2", "a2", "c1", dim)},
       |${ivfAssignCte("a3", "e", "c2")}""".stripMargin

  /** Two-level assignment CTE group ([[Similarity.ivfAssign2L]]):
    * `{name}_cc` routes each fine centroid to its single nearest coarse
    * list, `{name}_c0` exact-assigns every probed vector within its
    * probed lists, `{name}_ms`/`{name}_fb` is the flat fallback for
    * vectors whose probed lists hold no fine centroid, `$name` the
    * union. Tie-breaks identical to the engine (sim DESC, cluster). */
  private def ivf2lAssignCte(name: String, src: String, probes: String,
      cents: String, coarse: String): String =
    s"""${name}_cc AS MATERIALIZED (
       |  SELECT ccluster, cluster, centroid FROM (
       |    SELECT gcluster AS ccluster, cluster, centroid,
       |      row_number() OVER (PARTITION BY cluster ORDER BY csim DESC, gcluster) AS rn
       |    FROM (
       |      SELECT c.cluster, c.centroid, g.cluster AS gcluster,
       |        ${ivfSim("c.centroid", "g.centroid")} AS csim
       |      FROM $cents c CROSS JOIN $coarse g) q0) q1
       |  WHERE rn = 1),
       |${name}_c0 AS MATERIALIZED (
       |  SELECT id, vec, cluster FROM (
       |    SELECT id, vec, cluster,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
       |    FROM (
       |      SELECT p.id, p.vec, m.cluster,
       |        ${ivfSim("p.vec", "m.centroid")} AS sim
       |      FROM $probes p JOIN ${name}_cc m USING (ccluster)) q2) q3
       |  WHERE rn = 1),
       |${name}_ms AS MATERIALIZED (
       |  SELECT s.id, s.vec FROM $src s ANTI JOIN ${name}_c0 a USING (id)),
       |${name}_fb AS MATERIALIZED (
       |  SELECT id, vec, cluster FROM (
       |    SELECT id, vec, cluster,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
       |    FROM (
       |      SELECT s.id, s.vec, c.cluster,
       |        ${ivfSim("s.vec", "c.centroid")} AS sim
       |      FROM ${name}_ms s CROSS JOIN $cents c) q4) q5
       |  WHERE rn = 1),
       |$name AS MATERIALIZED (
       |  SELECT * FROM ${name}_c0 UNION ALL SELECT * FROM ${name}_fb)""".stripMargin

  /** The two-level IVF fit+assign chain
    * ([[Similarity.ivfFitAssign2L]]): `tkc` = ⌈√k⌉ with integer
    * adjustment (no float-rounding dependence at perfect squares),
    * `gc0..gc2` the flat coarse fit, `tpr` each vector's `nprobe`
    * nearest coarse lists (computed once — coarse centroids are fixed
    * across fine iterations), `tc0..tc2` the fine Lloyd chain with
    * two-level assignments, `ta3` the final (id, vec, cluster). */
  private def ivf2lCtes(src: String, kSql: String, dim: Int,
      nprobe: Int): String =
    s"""tkc AS MATERIALIZED (
       |  SELECT CASE WHEN (m0-1)*(m0-1) >= kk THEN m0-1
       |              WHEN m0*m0 >= kk THEN m0 ELSE m0+1 END AS kc
       |  FROM (SELECT CAST(floor(sqrt(CAST(kk AS DOUBLE))) AS BIGINT) AS m0, kk
       |        FROM (SELECT $kSql AS kk) z1) z2),
       |${ivfSeedCte("gc0", src, "(SELECT kc FROM tkc)")},
       |${ivfAssignCte("ga1", src, "gc0")},
       |${ivfUpdateCte("gc1", "ga1", "gc0", dim)},
       |${ivfAssignCte("ga2", src, "gc1")},
       |${ivfUpdateCte("gc2", "ga2", "gc1", dim)},
       |tpr AS MATERIALIZED (
       |  SELECT id, vec, ccluster FROM (
       |    SELECT id, vec, ccluster,
       |      row_number() OVER (PARTITION BY id ORDER BY csim DESC, ccluster) AS rn
       |    FROM (
       |      SELECT s.id, s.vec, g.cluster AS ccluster,
       |        ${ivfSim("s.vec", "g.centroid")} AS csim
       |      FROM $src s CROSS JOIN gc2 g) p0) p1
       |  WHERE rn <= $nprobe),
       |${ivfSeedCte("tc0", src, kSql)},
       |${ivf2lAssignCte("ta1", src, "tpr", "tc0", "gc2")},
       |${ivfUpdateCte("tc1", "ta1", "tc0", dim)},
       |${ivf2lAssignCte("ta2", src, "tpr", "tc1", "gc2")},
       |${ivfUpdateCte("tc2", "ta2", "tc1", dim)},
       |${ivf2lAssignCte("ta3", src, "tpr", "tc2", "gc2")}""".stripMargin

  val embedIvfRecall: String = {
    val nprobe = 4
    def sim(v: String, c: String) = ivfSim(v, c)
    s"""WITH ${ivfAssignedCtes("16", 64)},
       |q AS (SELECT id AS q_id, vec AS q_vec FROM e WHERE id < 20),
       |qs AS (
       |  SELECT q_id, q_vec, cluster FROM (
       |    SELECT q_id, q_vec, cluster,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cluster) AS rn
       |    FROM (
       |      SELECT q.q_id, q.q_vec, c2.cluster,
       |        ${sim("q.q_vec", "c2.centroid")} AS sim
       |      FROM q CROSS JOIN c2) p0) p1
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT qs.q_id, qs.q_vec, a3.id AS n_id, a3.vec AS n_vec
       |  FROM qs JOIN a3 USING (cluster) WHERE qs.q_id <> a3.id),
       |sc AS (
       |  SELECT q_id, n_id, ${cosineSelect("q_vec", "n_vec")}
       |    FROM cand)),
       |ivf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
       |    FROM sc) t WHERE rk <= 5),
       |bf AS (${Oracles.sql("embed_cosine_topk")})
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(i.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(i.n_id) AS DOUBLE) / count(*) AS recall
       |FROM bf LEFT JOIN ivf i USING (q_id, n_id)""".stripMargin
  }

  /** Incremental IVF: the k-means fit chain runs on the BASE shard only
    * (id % 10 != 0), the final assignment runs over the FULL corpus
    * against those fixed base centroids (the engine's append path —
    * [[graft.operators.IvfIndex.append]] assigns the delta without a
    * re-fit), and the probe measures recall through the appended lists
    * against brute force over base ∪ delta. */
  val embedIvfAppend: String = {
    val nprobe = 4
    def sim(v: String, c: String) = ivfSim(v, c)
    s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |eb AS (SELECT id, vec FROM e WHERE id % 10 <> 0),
       |${ivfSeedCte("c0", "eb", "16")},
       |${ivfAssignCte("a1", "eb", "c0")},
       |${ivfUpdateCte("c1", "a1", "c0", 64)},
       |${ivfAssignCte("a2", "eb", "c1")},
       |${ivfUpdateCte("c2", "a2", "c1", 64)},
       |${ivfAssignCte("a3", "e", "c2")},
       |q AS (SELECT id AS q_id, vec AS q_vec FROM e WHERE id < 20),
       |qs AS (
       |  SELECT q_id, q_vec, cluster FROM (
       |    SELECT q_id, q_vec, cluster,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cluster) AS rn
       |    FROM (
       |      SELECT q.q_id, q.q_vec, c2.cluster,
       |        ${sim("q.q_vec", "c2.centroid")} AS sim
       |      FROM q CROSS JOIN c2) p0) p1
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT qs.q_id, qs.q_vec, a3.id AS n_id, a3.vec AS n_vec
       |  FROM qs JOIN a3 USING (cluster) WHERE qs.q_id <> a3.id),
       |sc AS (
       |  SELECT q_id, n_id, ${cosineSelect("q_vec", "n_vec")}
       |    FROM cand)),
       |ivf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
       |    FROM sc) t WHERE rk <= 5),
       |bf AS (${Oracles.sql("embed_cosine_topk")})
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(i.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(i.n_id) AS DOUBLE) / count(*) AS recall
       |FROM bf LEFT JOIN ivf i USING (q_id, n_id)""".stripMargin
  }

  /** SemDeDup: same k-means re-derivation, then within-cluster pairwise
    * cosine — any vector matching a lower-id member at ≥ 0.3 is dropped.
    * `k` follows the engine's sizing law (max(minK, ceil(n/300)) —
    * cluster sizes ~300 keeps the within-cluster pairwise LINEAR in the
    * corpus) with exact integer arithmetic, so the oracle is
    * corpus-adaptive — INCLUDING the assignment-path switch: strictly
    * above TwoLevelMinK the engine takes the coarse-routed two-level
    * assignment, so the oracle does too. Both chains are emitted but
    * each is seeded from a guard-filtered source (`ef`/`et`, one of
    * which is always empty), so the untaken path's CTEs run over zero
    * rows rather than relying on optimizer pruning. */
  private def semDedupSql(minK: Int): String = {
    val t = graft.operators.Similarity.TwoLevelMinK
    s"""WITH kc AS (
       |  SELECT GREATEST($minK, (count(*) + 299) // 300) AS k
       |  FROM embeddings),
       |e0 AS MATERIALIZED (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |ef AS MATERIALIZED (SELECT * FROM e0 WHERE (SELECT k FROM kc) <= $t),
       |et AS MATERIALIZED (SELECT * FROM e0 WHERE (SELECT k FROM kc) > $t),
       |${ivfSeedCte("fc0", "ef", "(SELECT k FROM kc)")},
       |${ivfAssignCte("fa1", "ef", "fc0")},
       |${ivfUpdateCte("fc1", "fa1", "fc0", 64)},
       |${ivfAssignCte("fa2", "ef", "fc1")},
       |${ivfUpdateCte("fc2", "fa2", "fc1", 64)},
       |${ivfAssignCte("fa3", "ef", "fc2")},
       |${ivf2lCtes("et", "(SELECT k FROM kc)", 64,
          graft.operators.Similarity.DefaultNProbe)},
       |asg AS MATERIALIZED (SELECT * FROM fa3 UNION ALL SELECT * FROM ta3),
       |pr AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.vec AS va, b.vec AS vb
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id),
       |sc AS (
       |  SELECT id_b, ${cosineSelect("va", "vb")}
       |    FROM pr)),
       |dropped AS (SELECT DISTINCT id_b FROM sc WHERE sim >= 0.3)
       |SELECT asg.id AS vec_id, asg.cluster, (d.id_b IS NULL) AS kept
       |FROM asg LEFT JOIN dropped d ON asg.id = d.id_b""".stripMargin
  }

  val semDedup: String = semDedupSql(16)

  /** The two-level path pinned at gate scale (see QueriesText.semDedup2L). */
  val semDedup2L: String = semDedupSql(80)

  /** SemDeDup, bounded-k lake configuration
    * ([[graft.QueriesText]]`.semDedupBounded`): FIXED k (no corpus
    * sizing law — flat k-means chain reused verbatim), dup collapse
    * via (cluster, vec) groups, and the per-cluster witness CAP — a
    * vector is dropped iff an identical lower-id vector shares its
    * cluster, or one of the cluster's first `cap` representatives (by
    * rep id) is lower-id and scores ≥ 0.3. The cap is operator
    * semantics, so the oracle re-derives it exactly. */
  val semDedupBounded: String = {
    val k = graft.operators.Similarity.BoundedK
    val cap = graft.operators.Similarity.WitnessCap
    s"""WITH ${ivfAssignedCtes(k.toString, 64)},
       |nz AS MATERIALIZED (
       |  SELECT id, vec, cluster FROM a3
       |  WHERE list_reduce(list_transform(vec,
       |    x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b) > 0),
       |grp AS MATERIALIZED (
       |  SELECT cluster, vec, min(id) AS rep_id FROM nz GROUP BY cluster, vec),
       |wit AS MATERIALIZED (
       |  SELECT cluster, rep_id, vec FROM (
       |    SELECT cluster, rep_id, vec,
       |      row_number() OVER (PARTITION BY cluster ORDER BY rep_id) AS wrn
       |    FROM grp) w0
       |  WHERE wrn <= $cap),
       |dup AS (
       |  SELECT n.id FROM nz n JOIN grp g
       |    ON n.cluster = g.cluster AND n.vec = g.vec
       |  WHERE n.id > g.rep_id),
       |cand AS (
       |  SELECT n.id, n.vec AS mvec, w.vec AS wvec
       |  FROM nz n JOIN wit w ON n.cluster = w.cluster AND w.rep_id < n.id),
       |sc AS (
       |  SELECT id, ${cosineSelect("mvec", "wvec")}
       |    FROM cand)),
       |dropped AS (
       |  SELECT id FROM dup UNION SELECT id FROM sc WHERE sim >= 0.3)
       |SELECT a3.id AS vec_id, a3.cluster, (d.id IS NULL) AS kept
       |FROM a3 LEFT JOIN dropped d ON a3.id = d.id""".stripMargin
  }

  /** Recall of the banded ANN against the exact brute-force ground
    * truth: both algorithms re-derived in SQL, joined on (q_id, n_id). */
  val embedAnnRecall: String =
    s"""WITH bf AS (${Oracles.sql("embed_cosine_topk")}),
       |lsh AS ($embedAnnLsh)
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(l.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(l.n_id) AS DOUBLE) / count(*) AS recall
       |FROM bf LEFT JOIN lsh l USING (q_id, n_id)""".stripMargin

  val embedNearDups: String = embedNearDupsWith(4, 8)

  /** The autoBits scale path, corpus-adaptive in SQL: `planeComponent`
    * hashes each (plane, dim) cell independently, so the first
    * `bits*sigs` rows of the clamp-max matrix (62/8 = 7 bits × 8 sigs =
    * 56 planes) ARE the matrix the engine builds for any smaller bits —
    * the oracle packs all 56 sign bits once and band-extracts with a
    * runtime `bits` scalar. `bits` itself is derived with the exact
    * integer thresholds of autoBits (ceil(log2(n/125)) <= b  ⟺
    * n <= 125·2^b, clamped to [2, 7]), so there is no float-log edge to
    * diverge on; the equivalence is pinned in TextPipelineSpec for
    * n = 1..200000. */
  val embedNearDupsAuto: String = {
    val sigs = 8; val maxBits = 62 / sigs
    val planes = Similarity.planeMatrix(maxBits * sigs, 64)
    val pows = longList((0 until maxBits * sigs).map(1L << _))
    s"""WITH ${signBitsCte(maxBits * sigs, planeLit(planes), pows)},
       |bc AS (
       |  SELECT CAST(CASE WHEN n <= 500 THEN 2 WHEN n <= 1000 THEN 3
       |    WHEN n <= 2000 THEN 4 WHEN n <= 4000 THEN 5
       |    WHEN n <= 8000 THEN 6 ELSE 7 END AS BIGINT) AS bits
       |  FROM (SELECT count(*) AS n FROM e)),
       |sp AS (SELECT unnest(range($sigs)) AS sig),
       |banded AS (
       |  SELECT e.vec_id AS id, e.vec, sp.sig,
       |    (sb.allbits // CAST(power(2, bc.bits * sp.sig) AS BIGINT))
       |      % CAST(power(2, bc.bits) AS BIGINT) AS bucket
       |  FROM e JOIN sb USING (vec_id) CROSS JOIN sp CROSS JOIN bc),
       |bn AS (SELECT sig, bucket, count(*) AS n FROM banded GROUP BY sig, bucket),
       |b2 AS (SELECT banded.* FROM banded JOIN bn USING (sig, bucket) WHERE bn.n <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.vec AS vec_a, b.vec AS vec_b
       |  FROM b2 a JOIN b2 b ON a.sig = b.sig AND a.bucket = b.bucket AND a.id < b.id)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT id_a, id_b, ${cosineSelect("vec_a", "vec_b")}
       |    FROM cand)) t
       |WHERE sim >= 0.4""".stripMargin
  }

  private def embedNearDupsWith(bits: Int, sigs: Int): String = {
    val planes = Similarity.planeMatrix(bits * sigs, 64)
    val pows = longList((0 until bits * sigs).map(1L << _))
    val sigPows = longList((0 until sigs).map(s => 1L << (bits * s)))
    s"""WITH ${signBitsCte(bits * sigs, planeLit(planes), pows)},
       |sp AS (SELECT unnest(range($sigs)) AS sig, unnest($sigPows) AS spw),
       |banded AS (
       |  SELECT e.vec_id AS id, e.vec, sp.sig, (sb.allbits // sp.spw) % ${1 << bits} AS bucket
       |  FROM e JOIN sb USING (vec_id) CROSS JOIN sp),
       |bn AS (SELECT sig, bucket, count(*) AS n FROM banded GROUP BY sig, bucket),
       |b2 AS (SELECT banded.* FROM banded JOIN bn USING (sig, bucket) WHERE bn.n <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.vec AS vec_a, b.vec AS vec_b
       |  FROM b2 a JOIN b2 b ON a.sig = b.sig AND a.bucket = b.bucket AND a.id < b.id)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT id_a, id_b, ${cosineSelect("vec_a", "vec_b")}
       |    FROM cand)) t
       |WHERE sim >= 0.4""".stripMargin
  }

  /** Winnowing re-derived in SQL: Horner-form k-gram hashes (value-equal
    * to the engine's rolling update mod 2^64), HUGEINT window minima
    * (= the engine's unsigned compare), signed conversion, distinct
    * sort. */
  /** Connected components over the bounded exact-Jaccard pair graph:
    * the recursive CTE propagates only labels smaller than the target
    * node (the final component is the min reachable id, so larger
    * labels can never win), which also bounds the closure. */
  private val componentCtes: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
      |                              w -> len(w) > 0)) AS ws
      |  FROM documents WHERE doc_id < 300
      |), t AS (SELECT doc_id, unnest(ws) AS w FROM d),
      |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
      |c AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |  FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b FROM c
      |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
      |e AS (SELECT id_a AS src, id_b AS dst FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |n AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
      |  WHERE r.lbl < e.dst),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)""".stripMargin

  val dedupComponents: String = componentCtes +
    """
      |SELECT id AS doc_id, component,
      |  count(*) OVER (PARTITION BY component) AS cluster_size
      |FROM comp""".stripMargin

  /** Keep-the-best-copy representative selection over the same
    * component graph: max whitespace-token count wins, ties to the
    * smaller doc_id. */
  val dedupKeepBest: String = componentCtes +
    """,
      |q AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |                         w -> len(w) > 0)) AS INT) AS n_words
      |  FROM documents WHERE doc_id < 300)
      |SELECT c.id AS doc_id, c.component, q.n_words,
      |  (row_number() OVER (PARTITION BY c.component
      |     ORDER BY q.n_words DESC, c.id)) = 1 AS keep
      |FROM comp c JOIN q ON q.doc_id = c.id""".stripMargin

  /** 64-token chunks on a 48-token stride; DuckDB list slicing is
    * 1-based inclusive, mirroring Spark's `slice(ws, start+1, 64)`. */
  val docChunking: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |                w -> len(w) > 0) AS ws
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, ws, len(ws) AS n,
      |    unnest(range(CAST(ceil(len(ws) / 48.0) AS BIGINT))) AS chunk_idx
      |  FROM d WHERE len(ws) > 0)
      |SELECT doc_id, chunk_idx,
      |  array_to_string(ws[chunk_idx * 48 + 1 : least(chunk_idx * 48 + 64, n)],
      |                  ' ') AS chunk_text,
      |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_tokens
      |FROM c""".stripMargin

  /** Top-100 vocabulary by document frequency; (df DESC, w) is a total
    * order so the limit is deterministic in both engines. */
  val textVocabTopK: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
      |                              w -> len(w) > 0)) AS ws
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(ws) AS w FROM d)
      |SELECT w, count(*) AS df FROM t GROUP BY w
      |ORDER BY df DESC, w LIMIT 100""".stripMargin

  /** FNV-routed 80/10/10 split; same byte-wise FNV-1a as the engine
    * (`split:<doc_id>` is ASCII so the codepoint derivation is exact). */
  val sampleSplit: String = {
    val h = fnvHuge("'split:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id,
       |  CAST($h % 256 AS BIGINT) AS bucket,
       |  CASE WHEN $h % 256 < 204 THEN 'train'
       |       WHEN $h % 256 < 230 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  /** HyperLogLog bit-reproduction: same FNV hash, registers = h % 256
    * (≡ the engine's signed h & 255), rank = 57 − len(bin(h // 256)),
    * register-ordered 2^-rank fold, literal-derived alpha, linear
    * counting below 2.5·m. */
  val corpusDistinctHll: String = {
    val h = fnvHuge("w")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0)) AS w
       |  FROM documents),
       |th AS (SELECT w, $h AS h FROM tok),
       |rr AS (SELECT CAST(h % 256 AS INT) AS reg,
       |         CAST(h // 256 AS BIGINT) AS v FROM th),
       |rk AS (SELECT reg,
       |         max(CASE WHEN v = 0 THEN 57
       |             ELSE 57 - len(bin(v)) END) AS mr
       |       FROM rr GROUP BY reg),
       |regs AS (
       |  SELECT g.reg, COALESCE(rk.mr, 0) AS rank0
       |  FROM (SELECT unnest(range(256)) AS reg) g LEFT JOIN rk USING (reg)),
       |sk AS (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(1.0 / CAST((CAST(1 AS BIGINT) << rank0) AS DOUBLE)
       |        ORDER BY reg)), (a, b) -> a + b) AS sum2,
       |    CAST(sum(CASE WHEN rank0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS zeros
       |  FROM regs),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       |          CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
       |        FROM tok)
       |SELECT n_tokens, exact_distinct, zeros,
       |  round(CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2)
       |               <= 640.0 AND zeros > 0
       |        THEN 256.0 * ln(256.0 / zeros)
       |        ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2 END, 4)
       |    AS hll_estimate
       |FROM tot, sk""".stripMargin
  }

  /** Stratified largest-remainder sampling: integer quota math, signed
    * hash order (the engine sorts signed 64-bit FNV values). */
  val sampleStratified: String = {
    val h = fnvHuge("'strat:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN hh >= 9223372036854775808 THEN hh - 18446744073709551616
       |      ELSE hh END AS BIGINT) AS h
       |  FROM (SELECT doc_id, lang AS source, $h AS hh FROM documents)),
       |counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM counts),
       |q0 AS (
       |  SELECT source, n_s,
       |    (100 * n_s) // n_total AS f_s,
       |    100 * n_s - ((100 * n_s) // n_total) * n_total AS r_s
       |  FROM counts, tot),
       |lo AS (SELECT 100 - CAST(sum(f_s) AS BIGINT) AS l FROM q0),
       |q AS (
       |  SELECT source, n_s,
       |    f_s + CAST(row_number() OVER (ORDER BY r_s DESC, source) <= l AS INT)
       |      AS quota
       |  FROM q0, lo)
       |SELECT d.doc_id, d.source, q.n_s, q.quota,
       |  row_number() OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id)
       |    <= q.quota AS picked
       |FROM d JOIN q USING (source)""".stripMargin
  }

  /** Per-group HLL: the global sketch partitioned by source — same
    * hash, per-(source, reg) max ranks, per-source register-ordered
    * fold and correction. */
  val corpusDistinctBySource: String = {
    val h = fnvHuge("w")
    s"""WITH tok AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      w -> len(w) > 0)) AS w
       |  FROM documents),
       |th AS (SELECT source, w, $h AS h FROM tok),
       |rr AS (SELECT source, CAST(h % 256 AS INT) AS reg,
       |         CAST(h // 256 AS BIGINT) AS v FROM th),
       |rk AS (SELECT source, reg,
       |         max(CASE WHEN v = 0 THEN 57
       |             ELSE 57 - len(bin(v)) END) AS mr
       |       FROM rr GROUP BY source, reg),
       |regs AS (
       |  SELECT s.source, g.reg, COALESCE(rk.mr, 0) AS rank0
       |  FROM (SELECT DISTINCT source FROM tok) s
       |  CROSS JOIN (SELECT unnest(range(256)) AS reg) g
       |  LEFT JOIN rk ON rk.source = s.source AND rk.reg = g.reg),
       |sk AS (
       |  SELECT source,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(1.0 / CAST((CAST(1 AS BIGINT) << rank0) AS DOUBLE)
       |        ORDER BY reg)), (a, b) -> a + b) AS sum2,
       |    CAST(sum(CASE WHEN rank0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS zeros
       |  FROM regs GROUP BY source),
       |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |          CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
       |        FROM tok GROUP BY source)
       |SELECT t.source, n_tokens, exact_distinct, zeros,
       |  round(CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2)
       |               <= 640.0 AND zeros > 0
       |        THEN 256.0 * ln(256.0 / zeros)
       |        ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2 END, 4)
       |    AS hll_estimate
       |FROM tot t JOIN sk USING (source)""".stripMargin
  }

  /** Per-source KL over hashed buckets: same (source, bucket) counts,
    * dense grid, add-one smoothing, bucket-ordered p·ln(p/q) fold. */
  val mixKlDivergence: String = {
    val h = fnvHuge("'kl:' || w")
    s"""WITH tok AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      w -> len(w) > 0)) AS w
       |  FROM documents),
       |hb AS (SELECT source, CAST($h % 1024 AS BIGINT) AS bucket FROM tok),
       |sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
       |       FROM hb GROUP BY 1, 2),
       |cb AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS cbn FROM sb GROUP BY 1),
       |nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM sb),
       |srcs AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sb GROUP BY 1),
       |grid AS (
       |  SELECT s.source, g.bucket, s.ns,
       |    COALESCE(sb.n, 0) AS csb, COALESCE(cb.cbn, 0) AS cbn, nn.nn
       |  FROM srcs s
       |  CROSS JOIN (SELECT CAST(unnest(range(1024)) AS BIGINT) AS bucket) g
       |  LEFT JOIN sb ON sb.source = s.source AND sb.bucket = g.bucket
       |  LEFT JOIN cb ON cb.bucket = g.bucket
       |  CROSS JOIN nn),
       |terms AS (
       |  SELECT source, bucket, ns,
       |    (CAST(csb + 1 AS DOUBLE) / (ns + 1024)) *
       |      ln((CAST(csb + 1 AS DOUBLE) / (ns + 1024)) /
       |        (CAST(cbn + 1 AS DOUBLE) / (nn + 1024))) AS term
       |  FROM grid)
       |SELECT source, ns AS n_tokens,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(term ORDER BY bucket)), (a, b) -> a + b), 6) AS kl_unigram
       |FROM terms GROUP BY source, ns""".stripMargin
  }

  /** Shard manifest: unsigned HUGEINT mod 16 ≡ the engine's signed
    * pmod because 16 divides 2^64. */
  val sampleShardManifest: String = {
    val h = fnvHuge("'shard:' || CAST(doc_id AS VARCHAR)")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CAST($h % 16 AS INT) AS shard,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM p GROUP BY shard""".stripMargin
  }

  /** Sequence packing: the per-shard greedy next-fit walk re-derived as
    * a recursive CTE (one iteration per document rank, all shards in
    * parallel); pack_key converted to the engine's signed ordering. */
  val sampleSeqPack: String = {
    val h = fnvHuge("'shard:' || CAST(doc_id AS VARCHAR)")
    s"""WITH RECURSIVE p AS (
       |  SELECT doc_id,
       |    CAST($h % 16 AS INT) AS shard,
       |    CAST(CASE WHEN $h >= 9223372036854775808
       |         THEN $h - 18446744073709551616
       |         ELSE $h END AS BIGINT) AS pack_key,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok
       |  FROM documents),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY shard
       |    ORDER BY pack_key, doc_id) AS rn
       |  FROM p),
       |walk AS (
       |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill,
       |    CAST(0 AS BIGINT) AS ex
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.shard, r.rn, r.doc_id, r.n_tok,
       |    CASE WHEN w.fill + r.n_tok > 512 AND w.fill > 0
       |         THEN r.n_tok ELSE w.fill + r.n_tok END,
       |    CASE WHEN w.fill + r.n_tok > 512 AND w.fill > 0
       |         THEN w.ex + 1 ELSE w.ex END
       |  FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1)
       |SELECT shard, ex AS example_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_tok) AS BIGINT) / 512.0, 6) AS fill_ratio
       |FROM walk GROUP BY shard, ex""".stripMargin
  }

  /** BPE merge induction, 5 rounds unrolled: each round counts
    * adjacent symbol pairs weighted by word count, picks the argmax
    * (count desc, pair lex), and applies the merge with the same
    * greedy left-to-right skip-fold the engine runs. Fold encoding:
    * elements are [cur, next] lookahead pairs and the skip flag is a
    * chr(1) sentinel appended to the accumulator list — DuckDB's
    * list_reduce requires accumulator type = element type AND (in
    * v1.0.0) corrupts struct accumulators, so everything is VARCHAR[].
    * The sentinel is always popped by the following element (a merge
    * needs a successor), so it never leaks into the result. */
  // BPE oracle CTE builders (shared by the train and encode oracles):
  // per-round weighted pair counts, the lexicographic argmax, and the
  // greedy left-to-right merge application as a sentinel-flag fold.
  private def bpePairCte(i: Int) =
    s"""p$i AS (
       |  SELECT pr.a AS a, pr.b AS b, CAST(sum(wc) AS BIGINT) AS pair_count
       |  FROM (SELECT wc, unnest(list_transform(range(len(s) - 1),
       |          k -> struct_pack(a := s[k+1], b := s[k+2]))) AS pr
       |        FROM w$i WHERE len(s) >= 2) t
       |  GROUP BY pr.a, pr.b)""".stripMargin
  private def bpeBestCte(i: Int) =
    s"""m$i AS (
       |  SELECT a, b, pair_count FROM p$i
       |  ORDER BY pair_count DESC, a, b LIMIT 1)""".stripMargin
  private def bpeApplyCte(i: Int) =
    s"""w${i + 1} AS (
       |  SELECT w, wc,
       |    list_reduce(list_prepend(
       |      CAST([] AS VARCHAR[]),
       |      list_transform(range(len(s)), k ->
       |        [s[k+1], CASE WHEN k + 2 <= len(s) THEN s[k+2]
       |                 ELSE '' END])),
       |      (acc, e) -> CASE
       |        WHEN len(acc) > 0 AND acc[len(acc)] = chr(1)
       |          THEN acc[1:len(acc)-1]
       |        WHEN e[2] <> '' AND e[1] = m$i.a AND e[2] = m$i.b
       |          THEN list_append(list_append(acc, e[1] || e[2]), chr(1))
       |        ELSE list_append(acc, e[1]) END) AS s
       |  FROM w$i, m$i)""".stripMargin

  val tokenizerBpeMerges: String = {
    val rounds = 5
    val ctes = (0 until rounds).map { i =>
      Seq(bpePairCte(i), bpeBestCte(i)) ++
        (if (i < rounds - 1) Seq(bpeApplyCte(i)) else Nil)
    }.flatten
    val selects = (0 until rounds).map { i =>
      s"""SELECT CAST(${i + 1} AS INT) AS "round", a AS "left",
         |  b AS "right", a || b AS merged, pair_count FROM m$i""".stripMargin
    }
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0)) AS w
       |  FROM documents),
       |w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc,
       |         regexp_extract_all(w, '.') AS s
       |       FROM tok GROUP BY w),
       |${ctes.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Bigram-LM scoring: identical count tables, identical smoothed
    * conditional formula (same operand order, shared-libm ln/exp), and
    * the position-ordered log-prob fold. */
  /** `finalFilter` restricts only the per-doc scoring fold — the LM
    * count tables (`cb`/`cu`/`v`) always aggregate the FULL corpus, so
    * a doc-sliced variant is sound for the sampled-oracle fallback
    * (counts are corpus-global in the engine too). */
  private[graft] def textLmScoreSql(finalFilter: String): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, p.k AS pos, ws[p.k+1] AS w1, ws[p.k+2] AS w2
       |  FROM (SELECT doc_id, ws, unnest(list_transform(range(len(ws) - 1),
       |          k -> struct_pack(k := k))) AS p
       |        FROM d WHERE len(ws) >= 2) x),
       |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
       |       FROM bg GROUP BY w1, w2),
       |cu AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu
       |       FROM bg GROUP BY w1),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
       |      FROM (SELECT unnest(ws) AS w FROM d) t),
       |sc AS (
       |  SELECT bg.doc_id, bg.pos,
       |    ln((cb + 0.5) / (cu + 0.5 * v)) AS logp
       |  FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(logp ORDER BY pos)), (a, b) -> a + b), 6) AS sum_logprob,
       |  round(exp(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(logp ORDER BY pos)), (a, b) -> a + b) / count(*)), 6)
       |    AS perplexity
       |FROM sc $finalFilter GROUP BY doc_id""".stripMargin

  val textLmScore: String = textLmScoreSql("")

  /** Unigram-LM tokenizer: the full E+M pass replayed — same seed
    * substring frequencies and tie-breaks, the Viterbi fold as a
    * flat-list list_reduce over the [dp0,bp0,dp1,bp1,…] interleaved
    * accumulator (1-based here), and the backtrace as a recursive CTE
    * over the per-position backpointer table. */
  private val unigramCtes: String = {
    val bestList =
      """list_aggregate(list_transform(
        |          list_filter(cands, c -> c.i = e[1]),
        |          c -> [acc[2 * c.j + 1] + c.lp, -CAST(c.j AS DOUBLE)]),
        |        'max')""".stripMargin
    s"""tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> len(x) > 0)) AS w
       |  FROM documents),
       |wcount AS (SELECT w, CAST(count(*) AS BIGINT) AS wcnt
       |           FROM tok GROUP BY w),
       |subs AS (
       |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS freq FROM (
       |    SELECT wcnt, unnest(flatten(list_transform(range(1, 5), l ->
       |      CASE WHEN length(w) >= l THEN
       |        list_transform(range(0, length(w) - l + 1),
       |          s2 -> substr(w, CAST(s2 + 1 AS INT), CAST(l AS INT)))
       |      ELSE CAST([] AS VARCHAR[]) END))) AS piece
       |    FROM wcount) t
       |  GROUP BY piece),
       |topv AS (SELECT piece, freq FROM subs WHERE length(piece) > 1
       |         ORDER BY freq DESC, piece LIMIT 200),
       |chars AS (SELECT piece, freq FROM subs WHERE length(piece) = 1),
       |vocab0 AS (SELECT * FROM topv UNION ALL SELECT * FROM chars),
       |tv AS (SELECT CAST(sum(freq) AS BIGINT) AS tot FROM vocab0),
       |vocab AS (
       |  SELECT piece, freq,
       |    round(ln(CAST(freq AS DOUBLE)) - ln(CAST(tot AS DOUBLE)), 6)
       |      AS lp
       |  FROM vocab0 CROSS JOIN tv),
       |cand0 AS (
       |  SELECT w, wcnt, u.i AS i, u.j AS j, u.piece AS piece FROM (
       |    SELECT w, wcnt,
       |      unnest(flatten(list_transform(range(1, length(w) + 1), i ->
       |        list_transform(range(greatest(0, i - 4), i), j ->
       |          struct_pack(i := i, j := j,
       |            piece := substr(w, CAST(j + 1 AS INT),
       |                            CAST(i - j AS INT))))))) AS u
       |    FROM wcount) t),
       |candj AS (
       |  SELECT c.w, c.wcnt,
       |    list(struct_pack(i := c.i, j := c.j, lp := v.lp)) AS cands
       |  FROM cand0 c JOIN vocab v USING (piece)
       |  GROUP BY c.w, c.wcnt),
       |folded AS (
       |  SELECT w, wcnt,
       |    list_reduce(list_prepend(CAST([0, 0] AS DOUBLE[]),
       |      list_transform(range(1, length(w) + 1),
       |        i -> [CAST(i AS DOUBLE)])),
       |      (acc, e) -> list_concat(acc, [
       |        ($bestList)[1],
       |        -($bestList)[2]])) AS acc
       |  FROM candj),
       |bpt AS (
       |  SELECT w, CAST(p AS INT) AS p,
       |    CAST(acc[CAST(2 * p + 2 AS INT)] AS INT) AS bpj
       |  FROM (SELECT w, acc, unnest(range(1, length(w) + 1)) AS p
       |        FROM folded) t),
       |walk(w, p) AS (
       |  SELECT w, CAST(length(w) AS INT) FROM folded
       |  UNION ALL
       |  SELECT walk.w, bpt.bpj FROM walk
       |  JOIN bpt ON bpt.w = walk.w AND bpt.p = walk.p
       |  WHERE walk.p > 0),
       |pieces AS (
       |  SELECT walk.w,
       |    substr(walk.w, bpt.bpj + 1, walk.p - bpt.bpj) AS piece
       |  FROM walk JOIN bpt ON bpt.w = walk.w AND bpt.p = walk.p
       |  WHERE walk.p > 0)""".stripMargin
  }

  val tokenizerUnigram: String =
    s"""WITH RECURSIVE $unigramCtes,
       |usage AS (
       |  SELECT piece, CAST(sum(f.wcnt) AS BIGINT) AS m_count,
       |    CAST(count(DISTINCT p2.w) AS BIGINT) AS n_words_using
       |  FROM pieces p2 JOIN wcount f ON f.w = p2.w
       |  GROUP BY piece)
       |SELECT v.piece, v.freq, v.lp,
       |  COALESCE(u.m_count, 0) AS m_count,
       |  COALESCE(u.n_words_using, 0) AS n_words_using
       |FROM vocab v LEFT JOIN usage u USING (piece)""".stripMargin

  /** Corpus encoded under the trained unigram vocab: per-doc piece
    * counts from the shared segmentation CTEs. */
  val tokenizerUnigramEncode: String =
    s"""WITH RECURSIVE $unigramCtes,
       |wpieces AS (SELECT w, CAST(count(*) AS BIGINT) AS np
       |            FROM pieces GROUP BY w),
       |dtok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(sum(np) AS DOUBLE) / count(*) AS pieces_per_word
       |FROM dtok JOIN wpieces USING (w)
       |GROUP BY doc_id""".stripMargin

  /** Curation funnel: the composed pipeline re-derived from the SAME
    * stage oracles (quality-gate SQL, md5 fingerprint, winnow-overlap
    * decontamination), canonical-min restricted to stage-2 survivors. */
  lazy val corpusCurationFunnel: String =
    s"""WITH q AS (${Oracles.sql("corpus_quality_gates")}),
       |fpt AS (
       |  SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM documents),
       |ct AS (SELECT DISTINCT train_id AS doc_id FROM ($docDecontaminate) t0
       |       WHERE n_shared >= 20),
       |flags AS (
       |  SELECT fpt.doc_id, fpt.fp, q.keep AS q_keep,
       |    (fpt.doc_id % 97 = 0) AS is_bench,
       |    (ct.doc_id IS NOT NULL) AS contaminated
       |  FROM fpt JOIN q USING (doc_id)
       |    LEFT JOIN ct ON ct.doc_id = fpt.doc_id),
       |s AS (
       |  SELECT *, NOT is_bench AS s1,
       |    (NOT is_bench AND q_keep) AS s2
       |  FROM flags),
       |s3t AS (
       |  SELECT *, min(CASE WHEN s2 THEN doc_id END)
       |    OVER (PARTITION BY fp) AS canon2
       |  FROM s),
       |st AS (
       |  SELECT *, (s2 AND doc_id = canon2) AS s3,
       |    (s2 AND doc_id = canon2 AND NOT contaminated) AS s4
       |  FROM s3t),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_all,
       |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM st)
       |SELECT CAST(1 AS INT) AS stage, 'benchmark_holdout' AS stage_name,
       |  n_all AS n_in, n1 AS n_kept, n_all - n1 AS n_dropped FROM agg
       |UNION ALL SELECT 2, 'quality_gate', n1, n2, n1 - n2 FROM agg
       |UNION ALL SELECT 3, 'exact_dedup', n2, n3, n2 - n3 FROM agg
       |UNION ALL SELECT 4, 'decontaminate', n3, n4, n3 - n4 FROM agg"""
      .stripMargin

  /** One-pass profile: HLL from the corpus_distinct_hll construction,
    * CMS point estimates from the freq_cms grid at build-time-computed
    * probe positions (same seeded FNV), length quantiles from the
    * exact-integer histogram rule. */
  def corpusProfile: String = {
    val hW = fnvHuge("w")
    val hCms = fnvHuge("CAST(d AS VARCHAR) || ':' || w")
    // absent cells are zero in the engine's dense grid → COALESCE 0
    def cmsSel(word: String, name: String) =
      "least(" + (0 until 4).map { j =>
        val pos = java.lang.Math.floorMod(
          graft.functions.Hashing.fnv1a64(j, word), 1024L)
        s"COALESCE((SELECT cell FROM sketch WHERE d = $j AND b = $pos), 0)"
      }.mkString(", ") + s") AS $name"
    def lenQ(q: Double, name: String) =
      s"""(SELECT min(v) FROM lcum CROSS JOIN tot
         |    WHERE cum >= ceil($q * n_tokens)) AS $name""".stripMargin
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0)) AS w
       |  FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
       |th AS (SELECT w, $hW AS h FROM tok),
       |rr AS (SELECT CAST(h % 256 AS INT) AS reg,
       |         CAST(h // 256 AS BIGINT) AS v FROM th),
       |rk AS (SELECT reg,
       |         max(CASE WHEN v = 0 THEN 57
       |             ELSE 57 - len(bin(v)) END) AS mr
       |       FROM rr GROUP BY reg),
       |regs AS (
       |  SELECT g.reg, COALESCE(rk.mr, 0) AS rank0
       |  FROM (SELECT unnest(range(256)) AS reg) g LEFT JOIN rk USING (reg)),
       |sk AS (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(1.0 / CAST((CAST(1 AS BIGINT) << rank0) AS DOUBLE)
       |        ORDER BY reg)), (a, b) -> a + b) AS sum2,
       |    CAST(sum(CASE WHEN rank0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS zeros
       |  FROM regs),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
       |dep AS (SELECT unnest(range(4)) AS d),
       |wb AS (
       |  SELECT w, cnt, d, CAST($hCms % 1024 AS BIGINT) AS b
       |  FROM wc CROSS JOIN dep),
       |sketch AS (
       |  SELECT d, b, CAST(sum(cnt) AS BIGINT) AS cell
       |  FROM wb GROUP BY d, b),
       |ll AS (SELECT CAST(length(w) AS BIGINT) AS v FROM tok),
       |lcum AS (
       |  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
       |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS cnt
       |        FROM ll GROUP BY v) t)
       |SELECT tot.n_tokens,
       |  round(CASE WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2)
       |               <= 640.0 AND zeros > 0
       |        THEN 256.0 * ln(256.0 / zeros)
       |        ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / sum2 END, 4)
       |    AS distinct_hll,
       |  ${cmsSel("table", "cms_table")},
       |  ${cmsSel("row", "cms_row")},
       |  ${cmsSel("zebra", "cms_zebra")},
       |  ${lenQ(0.5, "len_p50")},
       |  ${lenQ(0.9, "len_p90")}
       |FROM tot CROSS JOIN sk""".stripMargin
  }

  /** PCA power iteration: every reduction replayed on the identical
    * two-level ordered chunk fold; projections and norms fold in
    * index order. */
  private def pcaFold(items: String, term: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform($items, $term)), (a, b) -> a + b)""".stripMargin
  private def pcaNormalize(sCol: String) =
    s"""list_transform(range(64), d -> $sCol[d+1] /
       |    sqrt(${pcaFold("range(64)", s"d2 -> $sCol[d2+1] * $sCol[d2+1]")}))"""
      .stripMargin

  /** The full power-iteration CTE chain over source CTE `src`
    * (id, v DOUBLE[]), all names prefixed `p` — ends with ${p}v3 (pv),
    * ${p}lam (lambda1), ${p}tv (total_var), ${p}mu (mu, n). */
  private def pcaCtes(p: String, src: String): String = {
    def iter(i: Int, prev: String) =
      s"""${p}w$i AS (
         |  SELECT e0.id, e0.v,
         |    ${pcaFold("range(64)",
              s"d -> (e0.v[d+1] - ${p}mu.mu[d+1]) * $prev.pv[d+1]")} AS w
         |  FROM $src e0 CROSS JOIN ${p}mu CROSS JOIN $prev),
         |${p}sc$i AS (
         |  SELECT id // 1024 AS chunk,
         |    list(struct_pack(id := id, v := v, w := w) ORDER BY id) AS ms
         |  FROM ${p}w$i GROUP BY id // 1024),
         |${p}sp$i AS (
         |  SELECT chunk, list_transform(range(64), d ->
         |    ${pcaFold("ms", s"m -> m.w * (m.v[d+1] - ${p}mu.mu[d+1])")}) AS psum
         |  FROM ${p}sc$i CROSS JOIN ${p}mu),
         |${p}s$i AS (
         |  SELECT list_transform(range(64), d ->
         |    ${pcaFold("cl", "c -> c.psum[d+1]")}) AS s
         |  FROM (SELECT list(struct_pack(chunk := chunk, psum := psum)
         |          ORDER BY chunk) AS cl FROM ${p}sp$i) ${p}t$i),
         |${p}v$i AS (SELECT ${pcaNormalize("s")} AS pv FROM ${p}s$i)"""
        .stripMargin
    s"""${p}mu0 AS (
       |  SELECT id // 1024 AS chunk,
       |    list(struct_pack(id := id, v := v) ORDER BY id) AS ms
       |  FROM $src GROUP BY id // 1024),
       |${p}mu1 AS (
       |  SELECT chunk, list_transform(range(64), d ->
       |    ${pcaFold("ms", "m -> m.v[d+1]")}) AS psum, len(ms) AS cnt
       |  FROM ${p}mu0),
       |${p}mu AS (
       |  SELECT list_transform(range(64), d ->
       |    ${pcaFold("cl", "c -> c.psum[d+1]")} / n) AS mu, n
       |  FROM (SELECT list(struct_pack(chunk := chunk, psum := psum)
       |          ORDER BY chunk) AS cl, CAST(sum(cnt) AS BIGINT) AS n
       |        FROM ${p}mu1) ${p}tmu),
       |${p}tw AS (
       |  SELECT id, ${pcaFold("range(64)",
            s"d -> (v[d+1] - ${p}mu.mu[d+1]) * (v[d+1] - ${p}mu.mu[d+1])")} AS w
       |  FROM $src CROSS JOIN ${p}mu),
       |${p}tvc AS (
       |  SELECT id // 1024 AS chunk,
       |    list(struct_pack(id := id, w := w) ORDER BY id) AS ms
       |  FROM ${p}tw GROUP BY id // 1024),
       |${p}tvp AS (SELECT chunk, ${pcaFold("ms", "m -> m.w")} AS psum
       |            FROM ${p}tvc),
       |${p}tv AS (
       |  SELECT ${pcaFold("cl", "c -> c.psum")} AS total_var
       |  FROM (SELECT list(struct_pack(chunk := chunk, psum := psum)
       |          ORDER BY chunk) AS cl FROM ${p}tvp) ${p}ttv),
       |${p}x0 AS (SELECT v FROM $src WHERE id = 0),
       |${p}sv0 AS (
       |  SELECT list_transform(range(64), d -> ${p}x0.v[d+1] - ${p}mu.mu[d+1])
       |    AS s
       |  FROM ${p}x0 CROSS JOIN ${p}mu),
       |${p}v0 AS (SELECT ${pcaNormalize("s")} AS pv FROM ${p}sv0),
       |${iter(1, s"${p}v0")},
       |${iter(2, s"${p}v1")},
       |${iter(3, s"${p}v2")},
       |${p}lam AS (
       |  SELECT sqrt(${pcaFold("range(64)", "d -> s[d+1] * s[d+1]")})
       |    AS lambda1
       |  FROM ${p}s3)""".stripMargin
  }

  val embedPcaPower: String =
    s"""WITH e AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${pcaCtes("", "e")}
       |SELECT CAST(d AS INT) AS dim, round(pv[d+1], 6) AS loading,
       |  round(lambda1, 6) AS lambda1, round(total_var, 6) AS total_var,
       |  round(lambda1 / total_var, 6) AS evr1
       |FROM v3 CROSS JOIN lam CROSS JOIN tv
       |  CROSS JOIN (SELECT unnest(range(64)) AS d) dd""".stripMargin

  /** All-but-the-top whitening: remove the measured component, rerun
    * the identical chain on the whitened corpus. */
  val embedWhiten: String =
    s"""WITH e AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${pcaCtes("a", "e")},
       |wh0 AS (
       |  SELECT e.id, e.v,
       |    ${pcaFold("range(64)", "d -> (e.v[d+1] - amu.mu[d+1]) * av3.pv[d+1]")} AS w
       |  FROM e CROSS JOIN amu CROSS JOIN av3),
       |wh AS (
       |  SELECT id, list_transform(range(64), d -> v[d+1] - w * av3.pv[d+1])
       |    AS v
       |  FROM wh0 CROSS JOIN av3),
       |${pcaCtes("b", "wh")}
       |SELECT round(alam.lambda1, 6) AS lambda1,
       |  round(alam.lambda1 / atv.total_var, 6) AS evr1,
       |  round(blam.lambda1, 6) AS lambda2,
       |  round(blam.lambda1 / atv.total_var, 6) AS evr2_of_original,
       |  round(atv.total_var, 6) AS trace_before,
       |  round(btv.total_var, 6) AS trace_after
       |FROM alam CROSS JOIN atv CROSS JOIN blam CROSS JOIN btv"""
      .stripMargin

  /** Streaming curation == the batch derivation: id-ordered batches
    * make first-seen the global min per content fingerprint; the
    * gates are per-row. */
  lazy val streamCuration: String =
    s"""WITH q AS (${Oracles.sql("corpus_quality_gates")}),
       |${winnowCtes()},
       |bfp AS (SELECT DISTINCT unnest(fps) AS wfp FROM f
       |        WHERE doc_id % 97 = 0),
       |sh AS (
       |  SELECT t.doc_id, CAST(count(b.wfp) AS INT) AS n_shared
       |  FROM (SELECT doc_id, unnest(fps) AS wfp FROM f) t
       |  LEFT JOIN bfp b USING (wfp)
       |  GROUP BY t.doc_id),
       |md AS (
       |  SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS cfp
       |  FROM documents),
       |fst AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY cfp) AS is_first
       |  FROM md)
       |SELECT q.doc_id, (q.doc_id % 97 = 0) AS is_bench, q.keep AS q_keep,
       |  fst.is_first,
       |  COALESCE(sh.n_shared, 0) >= 20 AS contaminated,
       |  (NOT (q.doc_id % 97 = 0) AND q.keep AND fst.is_first
       |    AND NOT (COALESCE(sh.n_shared, 0) >= 20)) AS final_keep
       |FROM q JOIN fst USING (doc_id) LEFT JOIN sh USING (doc_id)"""
      .stripMargin

  /** URL canonicalization: same synth variants, same rule chain, same
    * first-owner window. */
  val dedupUrlCanonical: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 6 AS INT)
      |      WHEN 0 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 // 8
      |      WHEN 1 THEN 'https://example' || doc_id % 80 % 8 || '.com:443/page/' || doc_id % 97
      |      WHEN 2 THEN 'https://EXAMPLE' || doc_id % 80 % 8 || '.COM/page/' || doc_id % 80 // 8
      |      WHEN 3 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 // 8 || '/'
      |      WHEN 4 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 // 8 || '?utm_source=feed&utm_campaign=x'
      |      ELSE 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 // 8 || '?id=5&utm_medium=email#frag'
      |    END AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(url, '#.*$', '') AS nofrag
      |  FROM d),
      |c2 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(nofrag,
      |      '^[a-zA-Z]+://([^/?#]+)', 1)), ':443$', '') AS hostc,
      |    regexp_extract(nofrag, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)
      |      AS path0,
      |    regexp_extract(nofrag, '\?([^#]*)', 1) AS q0
      |  FROM c),
      |c3 AS (
      |  SELECT doc_id, url, hostc,
      |    CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
      |      THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS pathc,
      |    array_to_string(list_filter(string_split(q0, '&'),
      |      p -> p <> '' AND NOT p LIKE 'utm_%'), '&') AS qkept
      |  FROM c2),
      |c4 AS (
      |  SELECT doc_id, url,
      |    'https://' || hostc || pathc ||
      |      CASE WHEN qkept <> '' THEN '?' || qkept ELSE '' END
      |      AS canonical_url
      |  FROM c3)
      |SELECT doc_id, url, canonical_url,
      |  min(doc_id) OVER (PARTITION BY canonical_url
      |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS canonical_owner,
      |  doc_id <> min(doc_id) OVER (PARTITION BY canonical_url
      |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS is_dup
      |FROM c4""".stripMargin

  /** Char entropy: same char-ordered fold, one terminal round. */
  val textEntropy: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[^\s]') AS ch
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(ch) AS INT) AS n_chars,
      |  CAST(len(list_distinct(ch)) AS INT) AS n_distinct_chars,
      |  round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(list_sort(list_distinct(ch)), c ->
      |      (CAST(len(list_filter(ch, x -> x = c)) AS DOUBLE) / len(ch))
      |      * ln(CAST(len(list_filter(ch, x -> x = c)) AS DOUBLE) / len(ch)))),
      |    (a, b) -> a + b), 6) AS entropy
      |FROM d""".stripMargin

  /** CCNet perplexity buckets: same rounded-ppl floors, same histogram
    * thresholds with exact-integer tertile targets. */
  val corpusPplBuckets: String =
    s"""WITH lm AS ($textLmScore),
       |l2 AS (SELECT doc_id, perplexity,
       |         CAST(floor(perplexity * 16) AS BIGINT) AS pf FROM lm),
       |hist AS (SELECT pf, CAST(count(*) AS BIGINT) AS cnt
       |         FROM l2 GROUP BY pf),
       |hc AS (SELECT pf,
       |         CAST(sum(cnt) OVER (ORDER BY pf) AS BIGINT) AS cum,
       |         CAST(sum(cnt) OVER () AS BIGINT) AS tot
       |       FROM hist),
       |th AS (SELECT
       |         min(CASE WHEN cum >= (tot + 2) // 3 THEN pf END) AS th1,
       |         min(CASE WHEN cum >= (tot * 2 + 2) // 3 THEN pf END) AS th2
       |       FROM hc)
       |SELECT doc_id, perplexity, pf AS ppl_floor,
       |  CASE WHEN pf <= th1 THEN 'head'
       |       WHEN pf <= th2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM l2 CROSS JOIN th""".stripMargin

  /** Exact substring dedup: rebuilds the duplicated-5-gram set with the
    * same FNV64 window hashes, expands coverage, and re-derives the
    * per-doc counts and surviving token stream. */
  val dedupSubstrings: String = {
    val W = 5
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, p.k AS i, p.w AS tok
       |  FROM (SELECT doc_id, unnest(list_transform(range(len(ws)),
       |          k -> struct_pack(k := k, w := ws[k+1]))) AS p
       |        FROM t) x),
       |hw AS (
       |  SELECT doc_id, pos, ${fnvHuge("ng")} AS h
       |  FROM (SELECT doc_id, p.k AS pos,
       |          array_to_string(ws[p.k+1:p.k+$W], ' ') AS ng
       |        FROM (SELECT doc_id, ws, unnest(list_transform(
       |                range(len(ws) - ${W - 1}),
       |                k -> struct_pack(k := k))) AS p
       |              FROM t WHERE len(ws) >= $W) y) z),
       |dh AS (SELECT h FROM hw GROUP BY h HAVING count(*) > 1),
       |dupw AS (SELECT doc_id, pos FROM hw JOIN dh USING (h)),
       |cov AS (
       |  SELECT DISTINCT doc_id, i
       |  FROM (SELECT doc_id, unnest(range(pos, pos + $W)) AS i
       |        FROM dupw) z),
       |fl AS (
       |  SELECT tok.doc_id, tok.i, tok.tok, cov.i IS NOT NULL AS cov
       |  FROM tok LEFT JOIN cov
       |    ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
       |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
       |       FROM dupw GROUP BY doc_id)
       |SELECT a.doc_id, a.n_tokens, a.n_tokens_removed,
       |  CAST(COALESCE(dc.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  a.kept_text
       |FROM (SELECT doc_id,
       |        CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_tokens_removed,
       |        COALESCE(array_to_string(
       |          list(tok ORDER BY i) FILTER (NOT cov), ' '), '')
       |          AS kept_text
       |      FROM fl GROUP BY doc_id) a
       |LEFT JOIN dc USING (doc_id)""".stripMargin
  }

  /** BPE encode: rebuilds the trained vocab state (the full w0→w5 merge
    * chain, one apply per round) and tokenizes every document against
    * it — the per-doc token stream concatenated in document word
    * order. */
  val tokenizerBpeEncode: String = {
    val rounds = 5
    val ctes = (0 until rounds).flatMap { i =>
      Seq(bpePairCte(i), bpeBestCte(i), bpeApplyCte(i))
    }
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0)) AS w
       |  FROM documents),
       |w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc,
       |         regexp_extract_all(w, '.') AS s
       |       FROM tok GROUP BY w),
       |${ctes.mkString(",\n")},
       |dw AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(ws)),
       |      k -> struct_pack(k := k, w := ws[k+1]))) AS p
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> len(x) > 0) AS ws
       |        FROM documents) t),
       |enc AS (
       |  SELECT dw.doc_id, dw.p.k AS pos, w$rounds.s AS s
       |  FROM dw JOIN w$rounds ON dw.p.w = w$rounds.w)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(s)) AS BIGINT) AS n_tokens,
       |  array_to_string(flatten(list(s ORDER BY pos)), ' ') AS tokens_str
       |FROM enc GROUP BY doc_id""".stripMargin
  }

  /** Per-source cap: FNV priority converted to the engine's SIGNED
    * 64-bit ordering before the per-source rank. */
  val sampleDomainCap: String = {
    val h = fnvHuge("'cap:' || CAST(doc_id AS VARCHAR)")
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN $h >= 9223372036854775808
       |         THEN $h - 18446744073709551616
       |         ELSE $h END AS BIGINT) AS priority
       |  FROM documents)
       |SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY priority, doc_id) AS INT) AS rk
       |  FROM p) t
       |WHERE rk <= 15""".stripMargin
  }

  /** Shared winnowing CTE chain (d→h→m→f): `f(doc_id, fps)` with the
    * per-doc sorted-distinct fingerprint list. Reused by [[docWinnow]]
    * and [[docDecontaminate]].
    *
    * NOTE: byte-derivation assumption — `regexp_extract_all(text, '.')`
    * does not match newlines (RE2) and `ord()` yields codepoints, while
    * WinnowExpr hashes raw UTF-8 bytes. The two are value-equal only
    * because the synthetic `documents.text` corpus is ASCII and
    * newline-free (same assumption IncrementalTail's oracle documents);
    * a corpus with newlines or multibyte characters needs a bytes-based
    * derivation here (e.g. splitting on chr(10) explicitly). */
  private def winnowCtes(k: Int = 8, w: Int = 4): String = {
    val B = graft.functions.Hashing.FnvPrime
    s"""d AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(text, '.'),
       |      c -> CAST(ord(c) AS HUGEINT)) AS cs
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN len(cs) < $k THEN CAST([] AS HUGEINT[])
       |    ELSE list_transform(range(len(cs) - $k + 1),
       |      p -> list_reduce(list_prepend(CAST(0 AS HUGEINT), cs[p+1 : p+$k]),
       |        (a, c) -> (a * $B + c) % CAST(18446744073709551616 AS HUGEINT)))
       |    END AS hs
       |  FROM d),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) = 0 THEN CAST([] AS HUGEINT[])
       |      WHEN len(hs) <= $w THEN [list_aggregate(hs, 'min')]
       |      ELSE list_transform(range(len(hs) - $w + 1),
       |        q -> list_aggregate(hs[q+1 : q+$w], 'min'))
       |    END AS mins
       |  FROM h),
       |f AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(mins,
       |      x -> CAST(CASE WHEN x >= 9223372036854775808
       |        THEN x - 18446744073709551616 ELSE x END AS BIGINT)))) AS fps
       |  FROM m)""".stripMargin
  }

  /** Content-defined chunking: rebuilds the rolling gram hashes (the
    * winnow recurrence), the divisor cut candidates, and the min/max
    * scan as a recursive CTE; chunk hashes and the corpus-wide
    * occurrence counts re-derived identically. */
  val docCdcChunks: String = {
    val B = graft.functions.Hashing.FnvPrime
    val (k, div, minL, maxL) = (8, 16, 16, 64)
    // BYTE-based to match CdcChunksExpr exactly: the engine hashes the
    // UTF-8 octets and emits byte offsets, so the oracle decodes the
    // byte stream from hex(encode(text)) rather than ord() of
    // characters — the two only coincide on pure-ASCII text.
    s"""WITH RECURSIVE hx AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    CAST(octet_length(encode(text)) AS INT) AS len
       |  FROM documents),
       |d AS (SELECT doc_id, len FROM hx),
       |carr AS (
       |  SELECT doc_id,
       |    list_transform(range(len),
       |      i -> CAST((strpos('0123456789ABCDEF', h[2*i+1 : 2*i+1]) - 1) * 16
       |             + (strpos('0123456789ABCDEF', h[2*i+2 : 2*i+2]) - 1)
       |           AS HUGEINT)) AS cs
       |  FROM hx),
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN len(cs) < $k THEN CAST([] AS HUGEINT[])
       |    ELSE list_transform(range(len(cs) - $k + 1),
       |      p -> list_reduce(list_prepend(CAST(0 AS HUGEINT), cs[p+1 : p+$k]),
       |        (a, c) -> (a * $B + c) % CAST(18446744073709551616 AS HUGEINT)))
       |    END AS hs
       |  FROM carr),
       |cand AS (
       |  SELECT doc_id, CAST(t.u.p + $k AS INT) AS e
       |  FROM (SELECT doc_id, unnest(list_transform(range(len(hs)),
       |          i -> struct_pack(p := i, hv := hs[i+1]))) AS u
       |        FROM h) t
       |  WHERE t.u.hv % $div = 0),
       |candarr AS (
       |  SELECT doc_id, list_sort(list(e)) AS es FROM cand GROUP BY doc_id),
       |d2 AS (
       |  SELECT d.doc_id, d.len, COALESCE(ca.es, CAST([] AS INT[])) AS es
       |  FROM d LEFT JOIN candarr ca USING (doc_id)),
       |chunks AS (
       |  SELECT doc_id, CAST(0 AS INT) AS cstart,
       |    CAST(COALESCE(list_aggregate(list_filter(es,
       |        x -> x >= $minL AND x <= LEAST($maxL, len)), 'min'),
       |      LEAST($maxL, len)) AS INT) AS cend,
       |    len, es
       |  FROM d2 WHERE len > 0
       |  UNION ALL
       |  SELECT r.doc_id, r.cend,
       |    CAST(COALESCE(list_aggregate(list_filter(r.es,
       |        x -> x >= r.cend + $minL
       |          AND x <= LEAST(r.cend + $maxL, r.len)), 'min'),
       |      LEAST(r.cend + $maxL, r.len)) AS INT), r.len, r.es
       |  FROM chunks r WHERE r.cend < r.len),
       |rows0 AS (
       |  SELECT ch.doc_id,
       |    CAST(row_number() OVER (PARTITION BY ch.doc_id
       |      ORDER BY ch.cstart) - 1 AS INT) AS chunk_idx,
       |    ch.cstart AS "start", ch.cend AS "end",
       |    ch.cend - ch.cstart AS chunk_len,
       |    CAST(CASE WHEN hh >= 9223372036854775808
       |      THEN hh - 18446744073709551616 ELSE hh END AS BIGINT)
       |      AS chunk_hash
       |  FROM (SELECT ch0.*,
       |          list_reduce(list_prepend(
       |              CAST(14695981039346656037 AS HUGEINT),
       |              ca.cs[ch0.cstart + 1 : ch0.cend]),
       |            (a, b) -> ((a - (a % 256)
       |              + CAST(xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT))
       |                  AS HUGEINT)) * 1099511628211)
       |              % CAST(18446744073709551616 AS HUGEINT)) AS hh
       |        FROM chunks ch0 JOIN carr ca ON ca.doc_id = ch0.doc_id) ch)
       |SELECT *, count(*) OVER (PARTITION BY chunk_hash) AS n_occurrences
       |FROM rows0""".stripMargin
  }

  /** FNV-routed source mixing: bucket and keep-threshold re-derived
    * from the same recipe constants the engine uses. */
  val sampleMixSources: String = {
    val h = fnvHuge("'mix:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source,
       |  CAST($h % 256 AS BIGINT) AS bucket,
       |  CAST($h % 256 AS BIGINT) <
       |    (CASE CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4
       |      WHEN 0 THEN 256 WHEN 1 THEN 128 WHEN 2 THEN 64
       |      ELSE 26 END) AS kept
       |FROM documents""".stripMargin
  }

  val docWinnow: String =
    s"""WITH ${winnowCtes()}
       |SELECT doc_id, array_to_string(fps, ',') AS fingerprints,
       |  CAST(len(fps) AS INT) AS n_fp
       |FROM f""".stripMargin

  /** Decontamination: winnow-fingerprint overlap between the training
    * corpus and the benchmark stand-in (doc_id % 97 = 0); fps are
    * per-doc distinct, so count(*) over the fp equi-join IS the
    * intersection size. Mirrors the engine's discriminative gate:
    * fingerprints with global document frequency > 256 are boilerplate
    * and contribute no contamination evidence (per-doc-distinct fps
    * make count(*) over the unnest the document frequency). */
  val docDecontaminate: String =
    s"""WITH ${winnowCtes()},
       |ok AS (SELECT fp FROM (SELECT unnest(fps) AS fp FROM f) af
       |       GROUP BY fp HAVING count(*) <= 256),
       |tr AS (SELECT doc_id AS train_id, unnest(fps) AS fp
       |       FROM f WHERE doc_id % 97 <> 0),
       |be AS (SELECT doc_id AS bench_id, unnest(fps) AS fp
       |       FROM f WHERE doc_id % 97 = 0)
       |SELECT train_id, bench_id, count(*) AS n_shared
       |FROM tr JOIN ok USING (fp) JOIN be USING (fp)
       |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin

  // ------------------------------------------------------ pg_query goldens

  /** Expected normalizations embedded as literals (the reference's
    * integration_test/pg17.expected; PgNormalizeSpec pins them to the
    * golden file on disk). */
  val x1NormalizeGoldens: String = {
    val rows = PgGoldens.pgbench
      .map { case (id, _, exp) => s"($id, ${PgGoldens.sqlLit(exp)})" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, normalized)"
  }

  /** Expected fingerprint grouping structure of [[PgGoldens.collapseInputs]]:
    * {0,1,2} one group, {3,4} one group, {5,6} one group. */
  val x1FingerprintCollapse: String =
    """SELECT * FROM (VALUES
      |  (0, CAST(3 AS BIGINT)), (3, CAST(2 AS BIGINT)), (5, CAST(2 AS BIGINT))
      |) AS t(rep_id, n_queries)""".stripMargin

  // ---------------------------------------------------- full classification

  /** The oracle's ground truth is the (event_id % N) → intended-class
    * mapping from [[graft.logsys.LogSamples]] — generation-rule data,
    * independent of the engine's matcher table. */
  val x7FullClassify: String = {
    val samples = graft.logsys.LogSamples.samples
    val n = samples.length
    val rows = samples.zipWithIndex
      .map { case ((cid, name, _), idx) =>
        s"($idx, $cid, ${PgGoldens.sqlLit(name)})" }
      .mkString(",\n  ")
    s"""SELECT m.cid AS classification, m.name AS class_name, count(*) AS n
       |FROM events e JOIN (VALUES
       |  $rows) m(idx, cid, name)
       |ON CAST(e.event_id % $n AS INT) = m.idx
       |GROUP BY 1, 2""".stripMargin
  }

  /** Expected redactions embedded as literals (reference
    * `logs/replace_test.go` outputs). */
  val x9Spans: String = {
    val rows = PgGoldens.spanInputs
      .map { case (id, _, _, exp) => s"($id, ${PgGoldens.sqlLit(exp)})" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, redacted)"
  }

  /** md5 of the canonicalized GOLDEN files (independent ground truth —
    * the engine side canonicalizes its own normalization of the inputs). */
  def x12ExplainNormalize: String = {
    val rows = QueriesLog.explainFixtures.map { case (name, _, golden) =>
      val canon = graft.logsys.PlanNormalize.canonical(
        graft.logsys.PlanNormalize.parse(golden).get(0))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      s"(${PgGoldens.sqlLit(name)}, '$md')"
    }.mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(fixture, plan_md5)"
  }

  // ----------------------------------------------------------- multimodal

  /** The stubbed decoder's feature math re-derived in SQL: FNV-1a over
    * the payload bytes (== the ASCII text), per-dim xor-multiply mix,
    * top-53-bit fraction — exact doubles on both sides. */
  /** Analytic reconstruction of the REAL-codec features: the engine
    * encodes genuine PNG / RIFF-WAV / raw-frame documents and decodes
    * them back (ImageIO, javax.sound); the oracle computes what those
    * decodes MUST yield straight from the synthesis formulas — pixel
    * channel means, PCM sample stats, container byte stats. Grids use
    * constant range() bounds (w≤16, h≤14, n≤127, total≤112) with the
    * correlation in WHERE, since DuckDB table-function args must be
    * uncorrelated. */
  val mmDecodeFeatures: String =
    s"""WITH gxy AS (
       |  SELECT x.range AS x, y.range AS y FROM range(0, 17) x, range(0, 15) y),
       |im AS (
       |  SELECT d.doc_id, 8 + d.doc_id % 9 AS w, 8 + d.doc_id % 7 AS h,
       |         g.x, g.y
       |  FROM documents d CROSS JOIN gxy g
       |  WHERE d.doc_id % 3 = 0 AND g.x < 8 + d.doc_id % 9
       |    AND g.y < 8 + d.doc_id % 7),
       |imf AS (
       |  SELECT doc_id, 'image' AS media_type,
       |    CAST(w AS DOUBLE) AS f0, CAST(h AS DOUBLE) AS f1,
       |    CAST(CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS DOUBLE)
       |      / (w*h) AS f2,
       |    CAST(CAST(sum((doc_id*17 + x*11 + y*3) % 256) AS BIGINT) AS DOUBLE)
       |      / (w*h) AS f3,
       |    CAST(CAST(sum((doc_id*23 + x*5 + y*19) % 256) AS BIGINT) AS DOUBLE)
       |      / (w*h) AS f4
       |  FROM im GROUP BY doc_id, w, h),
       |au AS (
       |  SELECT d.doc_id, 64 + d.doc_id % 64 AS n,
       |    (d.doc_id*7919 + i.range*31) % 65536 - 32768 AS s
       |  FROM documents d CROSS JOIN range(0, 128) i
       |  WHERE d.doc_id % 3 = 1 AND i.range < 64 + d.doc_id % 64),
       |auf AS (
       |  SELECT doc_id, 'audio' AS media_type,
       |    CAST(n AS DOUBLE) AS f0, 8000.0 AS f1,
       |    CAST(CAST(sum(s) AS BIGINT) AS DOUBLE) / n AS f2,
       |    CAST(max(s) AS DOUBLE) AS f3, CAST(min(s) AS DOUBLE) AS f4
       |  FROM au GROUP BY doc_id, n),
       |vi AS (
       |  SELECT d.doc_id, 2 + d.doc_id % 6 AS nf, (2 + d.doc_id % 6)*16 AS total,
       |    (d.doc_id*13 + j.range*7) % 256 AS b
       |  FROM documents d CROSS JOIN range(0, 128) j
       |  WHERE d.doc_id % 3 = 2 AND j.range < (2 + d.doc_id % 6)*16),
       |vif AS (
       |  SELECT doc_id, 'video' AS media_type,
       |    CAST(nf AS DOUBLE) AS f0, CAST(total AS DOUBLE) AS f1,
       |    CAST(CAST(sum(b) AS BIGINT) AS DOUBLE) / total AS f2,
       |    CAST(max(b) AS DOUBLE) AS f3, CAST(min(b) AS DOUBLE) AS f4
       |  FROM vi GROUP BY doc_id, nf, total)
       |SELECT * FROM imf UNION ALL SELECT * FROM auf UNION ALL
       |SELECT * FROM vif""".stripMargin

  val mmFrameSample: String =
    """WITH v AS (
      |  SELECT doc_id, text, CAST(floor(length(text) / 16) AS INT) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      |  SELECT doc_id, text, unnest(range(0, greatest(n_frames, 1), 4)) AS frame_idx,
      |    n_frames
      |  FROM v)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |  hex(encode(substring(text, CAST(frame_idx * 16 + 1 AS INT), 16))) AS frame_hex
      |FROM f WHERE n_frames > 0""".stripMargin

  // -------------------------------------------- scalar-function goldens

  val x3Utility: String = {
    val rows = PgGoldens.utilityInputs
      .map { case (id, _, u) => s"($id, $u)" }.mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, is_utility)"
  }

  val x20QueryGuard: String = {
    val rows = PgGoldens.queryRunInputs
      .map { case (id, _, exp) => s"($id, ${PgGoldens.sqlLit(exp)})" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, verdict)"
  }

  val x10CredentialScrub: String = {
    val rows = PgGoldens.credentialInputs
      .map { case (id, _, exp) => s"($id, ${PgGoldens.sqlLit(exp)})" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, scrubbed)"
  }

  val x14TraceExtract: String = {
    val rows = PgGoldens.traceInputs
      .map { case (id, _, tid, sid, fl) =>
        s"($id, ${PgGoldens.sqlLit(tid)}, ${PgGoldens.sqlLit(sid)}, ${PgGoldens.sqlLit(fl)})" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, trace_id, parent_span_id, flags)"
  }

  val x18LogRepair: String = {
    val rows = PgGoldens.herokuInputs
      .map { case (id, _, rep, tr) => s"($id, ${PgGoldens.sqlLit(rep)}, $tr)" }
      .mkString(",\n  ")
    s"SELECT * FROM (VALUES\n  $rows) AS t(q_id, repaired, was_truncated)"
  }

  val x15Unpack: String =
    """WITH e AS (
      |  SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
      |    user_id
      |  FROM events)
      |SELECT event_id,
      |  CAST(k AS VARCHAR) || ',' || CAST(user_id AS VARCHAR) AS oids,
      |  CAST(k AS VARCHAR) || ',' || CAST(user_id AS VARCHAR) AS ints
      |FROM e""".stripMargin

  val t2HistoricLatest: String =
    """WITH base AS (
      |  SELECT p_partkey AS rel_oid, s.snap,
      |    p_partkey % 37 = 0 AND s.snap = 1 AS locked,
      |    p_size * 13 * (s.snap + 1) + p_partkey % 7 AS seq_scan
      |  FROM part CROSS JOIN (SELECT unnest(range(3)) AS snap) s
      |  WHERE NOT (p_partkey % 11 = 0 AND s.snap = 1))
      |SELECT rel_oid, snap, seq_scan,
      |  snap = max(snap) OVER (PARTITION BY rel_oid) AS is_latest
      |FROM base WHERE NOT locked""".stripMargin

  val f6TimeWindow: String =
    """WITH lines AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'LOG' END AS log_level
      |  FROM events)
      |SELECT log_level, count(*) AS n FROM lines
      |WHERE ts >= (SELECT max(ts) FROM lines) - INTERVAL 1 HOUR
      |GROUP BY log_level""".stripMargin

  val f7Prefilter: String =
    """SELECT CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'LOG' END AS log_level,
      |  count(*) AS n
      |FROM events WHERE event_type <> 'click'
      |GROUP BY 1""".stripMargin

  def f8ExplainSkip: String = {
    // oracle-side utility approximation: the f8 corpus is plain SELECTs
    // plus the collector marker, where leading-keyword and the engine's
    // scanner-based IsUtilityStmt agree by construction (the scanner
    // itself is verified against the x3_utility golden corpus)
    val util =
      "^(CREATE|ALTER|DROP|GRANT|REVOKE|VACUUM|ANALYZE|SET|SHOW|COPY|TRUNCATE|COMMENT|REINDEX|CLUSTER|CHECKPOINT|PREPARE|DEALLOCATE|DISCARD|LOCK|LISTEN|NOTIFY|UNLISTEN|BEGIN|COMMIT|ROLLBACK|SAVEPOINT|RELEASE|EXPLAIN) "
    s"""WITH e AS (
       |  SELECT *, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
       |  FROM events),
       |texts AS (
       |  SELECT DISTINCT user_id % 5 AS db_oid, user_id AS user_oid, k AS query_id,
       |    event_id % 7 <> 0 AS toplevel,
       |    CASE WHEN k % 50 = 0 THEN '/* pganalyze-collector */ SELECT 1'
       |      ELSE 'SELECT * FROM orders WHERE o_custkey = ' || k END AS query
       |  FROM e)
       |SELECT db_oid, count(*) AS n_eligible FROM texts
       |WHERE db_oid < 3 AND query NOT LIKE '/* pganalyze-collector */%'
       |  AND NOT regexp_matches(upper(trim(query)) || ' ', ${PgGoldens.sqlLit(util)})
       |GROUP BY db_oid""".stripMargin
  }

  val x7AutovacuumDetails: String =
    """SELECT event_id, 65 AS classification,
      |  'db0.public.t' || (user_id % 10) AS relname,
      |  k % 5 AS idx_scans,
      |  k % 100 AS pages_removed,
      |  k % 1000 + 1 AS pages_remain,
      |  k % 7 AS pages_skipped_frozen,
      |  k % 50 AS tuples_removed,
      |  k % 500 AS tuples_remain,
      |  k % 90 + 10 AS buffer_hits,
      |  k % 9 AS buffer_misses,
      |  k % 4 AS buffers_dirtied
      |FROM (SELECT event_id, user_id,
      |        CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |      FROM events) t""".stripMargin

  /** PII scrub: the synthesized fragments are re-derived from the
    * generation rule; the detector/scrub patterns are the ENGINE'S
    * [[graft.functions.TextFns.piiPatterns]] table interpolated verbatim
    * (written to the Java-regex ∩ RE2 common subset, so both engines
    * compile the identical strings). */
  val docPiiScrub: String = {
    val ps = graft.functions.TextFns.piiPatterns
    val counts = ps.map { case (name, re, _) =>
      s"  CAST(len(regexp_extract_all(pii_text, '$re')) AS INT) AS n_$name,"
    }.mkString("\n")
    val scrub = ps.foldLeft("pii_text") { case (acc, (_, re, repl)) =>
      s"regexp_replace($acc, '$re', '$repl', 'g')"
    }
    s"""WITH p AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 2 = 0 THEN
       |      ' contact user' || doc_id || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN
       |      ' from 10.' || (doc_id % 200 + 1) || '.0.' || (doc_id % 250 + 1)
       |    ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN
       |      ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    ELSE '' END AS pii_text
       |  FROM documents)
       |SELECT doc_id,
       |$counts
       |  $scrub AS scrubbed
       |FROM p""".stripMargin
  }

  /** Checkpoint-complete details re-derived from the generation rule
    * (LogSynth purchase lines carry fixed timing constants + k buffers). */
  val x7CheckpointDetails: String =
    """SELECT event_id, 41 AS classification,
      |  k AS bufs_written, 4.2 AS bufs_written_pct,
      |  CAST(0 AS BIGINT) AS segs_added, CAST(0 AS BIGINT) AS segs_removed,
      |  CAST(3 AS BIGINT) AS segs_recycled,
      |  1.2 AS write_secs, 0.1 AS sync_secs, 1.4 AS total_secs,
      |  CAST(7 AS BIGINT) AS sync_rels, 0.05 AS longest_secs,
      |  0.01 AS average_secs,
      |  CAST(1024 AS BIGINT) AS distance_kb, CAST(2048 AS BIGINT) AS estimate_kb
      |FROM (SELECT event_id,
      |        CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |      FROM events WHERE event_type = 'purchase') t""".stripMargin

  /** Full re-derivation of [[graft.sinks.FullSnapshotPipeline.e2e]]:
    * two-run cumulative statement stats LEFT-JOIN diff (== the D1
    * lag-window on a 2-snapshot timeline), F5 collector filter, X1/X2
    * normalize+fingerprint (the synthetic texts' canonical form is
    * regexp-derivable; the fingerprint is the same FNV-1a the engine
    * computes), A1 fingerprint grouping, and the document-level section
    * counts. A matching row-hash proves the engine's protobuf+zlib
    * encode→decode round-trip preserved every value bit-for-bit. */
  val e2eFullSnapshot: String = {
    val canonFp =
      s"""CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
         |  ELSE h END AS BIGINT)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id, user_id, value,
       |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
       |    CAST(ts AS TIMESTAMP) AS tsx
       |  FROM events),
       |s0 AS (
       |  SELECT user_id % 5 AS db_oid, user_id AS user_oid, k AS query_id,
       |    event_id % 7 <> 0 AS toplevel,
       |    CAST(count(*) AS BIGINT) AS calls,
       |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_ms
       |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1, 2, 3, 4),
       |s1 AS (
       |  SELECT user_id % 5 AS db_oid, user_id AS user_oid, k AS query_id,
       |    event_id % 7 <> 0 AS toplevel,
       |    CAST(count(*) AS BIGINT) AS calls,
       |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_ms
       |  FROM ev GROUP BY 1, 2, 3, 4),
       |d AS (
       |  SELECT s1.db_oid, s1.user_oid, s1.query_id, s1.toplevel,
       |    s1.calls - COALESCE(s0.calls, 0) AS calls_delta,
       |    s1.total_ms - COALESCE(s0.total_ms, 0) AS total_ms_delta
       |  FROM s1 LEFT JOIN s0 USING (db_oid, user_oid, query_id, toplevel)),
       |t AS (
       |  SELECT DISTINCT user_id % 5 AS db_oid, user_id AS user_oid,
       |    k AS query_id, event_id % 7 <> 0 AS toplevel,
       |    CASE WHEN k % 50 = 0 THEN '/* pganalyze-collector */ SELECT 1'
       |         ELSE 'SELECT * FROM orders WHERE o_custkey = ' || k END AS query
       |  FROM ev),
       |f AS (
       |  SELECT d.*, t.query
       |  FROM d JOIN t USING (db_oid, user_oid, query_id, toplevel)
       |  WHERE t.query NOT LIKE '/* pganalyze-collector */%'),
       |n AS (
       |  SELECT f.*,
       |    regexp_replace(query, '[0-9]+$$', '$$1') AS normalized,
       |    ${fnvHuge("lower(regexp_replace(query, '[0-9]+$', '$'))")} AS h
       |  FROM f),
       |g AS (
       |  SELECT db_oid, user_oid, toplevel, $canonFp AS fingerprint,
       |    CAST(sum(calls_delta) AS BIGINT) AS calls,
       |    CAST(sum(total_ms_delta) AS BIGINT) AS total_ms,
       |    CAST(count(*) AS BIGINT) AS n_query_ids,
       |    min(normalized) AS normalized_query
       |  FROM n GROUP BY 1, 2, 3, 4)
       |SELECT
       |  CASE g.db_oid % 7 WHEN 0 THEN 'rdsadmin'
       |    WHEN 1 THEN 'azure_maintenance' WHEN 2 THEN 'cloudsqladmin'
       |    ELSE 'db_' || g.db_oid END AS datname,
       |  'u' || g.user_oid AS rolname,
       |  g.toplevel, g.fingerprint, g.normalized_query, g.n_query_ids,
       |  g.calls, g.total_ms,
       |  (SELECT CAST(count(DISTINCT user_oid) AS BIGINT) FROM f) AS n_roles,
       |  (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_databases,
       |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_queries,
       |  -- schema_table_limit contract (schema.go:14,97-110): the
       |  -- relation count is the trigger and an overflow drops the whole
       |  -- schema section (refs, stats, indexes); functions are guarded
       |  -- by their own count against the same limit
       |  CAST(CASE WHEN (SELECT count(*) FROM part) > 5000 THEN 0
       |    ELSE (SELECT count(*) FROM part) END AS BIGINT) AS n_relations,
       |  (SELECT CAST(count(*) AS BIGINT) FROM part WHERE p_partkey % 7 = 0)
       |    AS n_settings,
       |  CAST(CASE WHEN (SELECT count(*) FROM part) > 5000 THEN 0
       |    ELSE (SELECT count(*) FROM part WHERE p_partkey % 2 = 0)
       |    END AS BIGINT) AS n_indexes,
       |  CAST(CASE WHEN (SELECT count(*) FROM part WHERE p_partkey % 5 = 0)
       |      > 5000 THEN 0
       |    ELSE (SELECT count(*) FROM part WHERE p_partkey % 5 = 0)
       |    END AS BIGINT) AS n_functions,
       |  CAST(CASE WHEN (SELECT count(*) FROM part) > 5000 THEN 0
       |    ELSE (SELECT sum(p_size * 7) FROM part WHERE p_partkey % 2 = 0)
       |    END AS BIGINT) AS sum_idx_scan_delta,
       |  CAST(CASE WHEN (SELECT count(*) FROM part WHERE p_partkey % 5 = 0)
       |      > 5000 THEN 0
       |    ELSE (SELECT sum(p_size * 3) FROM part WHERE p_partkey % 5 = 0)
       |    END AS BIGINT) AS sum_fn_calls_delta,
       |  (SELECT CAST(count(*) AS BIGINT) FROM part
       |   WHERE p_partkey % 11 = 0 AND p_partkey < 2200)
       |    AS n_backend_counts,
       |  (SELECT CAST(sum(p_partkey % 9 + 1) AS BIGINT) FROM part
       |   WHERE p_partkey % 11 = 0 AND p_partkey < 2200)
       |    AS sum_backend_count,
       |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
       |   WHERE s_suppkey < 5) AS n_standbys,
       |  (SELECT CAST(sum(s_suppkey * 1024 + 17) AS BIGINT) FROM supplier
       |   WHERE s_suppkey < 5) AS sum_standby_lag,
       |  FALSE AS in_recovery,
       |  (SELECT CAST(epoch_us(max(tsx)) // 1000000 AS BIGINT) FROM ev)
       |    AS collected_at_s,
       |  CAST(600 AS BIGINT) AS interval_secs,
       |  TRUE AS integrity_ok
       |FROM g""".stripMargin
  }

  /** Compact log snapshot e2e: re-derives every decoded wire field —
    * per-file byte offsets (window cumsum over the reconstructed line
    * text), level/classification from the generation rule, the
    * constant query fingerprint, and the document-level counts — from
    * the same events rows the engine's pipeline consumed. */
  val e2eCompactSnapshot: String = {
    val signedFp =
      s"""CAST(CASE WHEN h >= 9223372036854775808
         |  THEN h - 18446744073709551616 ELSE h END AS BIGINT)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id, user_id AS pid, value, event_type,
       |    regexp_extract(props, '"k": (\\d+)', 1) AS k,
       |    CAST(ts AS TIMESTAMP) AS tsx
       |  FROM events),
       |l AS (
       |  SELECT *,
       |    CAST(event_id % 3 AS INT) AS file_idx,
       |    CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'LOG' END AS lvl,
       |    CASE event_type
       |      WHEN 'click' THEN 'duration: ' || CAST(floor(value * 100) AS BIGINT)
       |        || '.000 ms  statement: SELECT * FROM orders WHERE o_custkey = '
       |        || k
       |      WHEN 'purchase' THEN 'checkpoint complete: wrote ' || k
       |        || ' buffers (4.2%); 0 WAL file(s) added, 0 removed, 3 recycled; '
       |        || 'write=1.2 s, sync=0.1 s, total=1.4 s; sync files=7, '
       |        || 'longest=0.05 s, average=0.01 s; distance=1024 kB, estimate=2048 kB'
       |      WHEN 'view' THEN 'connection received: host=10.0.0.1 port='
       |        || (5000 + pid % 100)
       |      WHEN 'signup' THEN 'connection authorized: user=u' || pid
       |        || ' database=db' || (CAST(k AS INT) % 5)
       |      ELSE 'deadlock detected' END AS content
       |  FROM ev),
       |r AS (
       |  SELECT *,
       |    strftime(tsx, '%Y-%m-%d %H:%M:%S') || ' UTC [' || pid || ']: ['
       |      || (event_id % 1000) || '-1] user=u' || pid || ',db=db'
       |      || (pid % 5) || ' ' || lvl || ':  ' || content AS line
       |  FROM l),
       |o AS (
       |  SELECT *, CAST(length(line) AS BIGINT) AS len,
       |    CAST(COALESCE(sum(length(line) + 1) OVER (
       |      PARTITION BY file_idx ORDER BY event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS byte_start
       |  FROM r),
       |f AS (
       |  SELECT file_idx, CAST(sum(len + 1) AS BIGINT) AS file_byte_size
       |  FROM o GROUP BY 1),
       |c AS (
       |  SELECT
       |    CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
       |      AS n_samples,
       |    CAST(count(DISTINCT pid) AS BIGINT) AS n_roles,
       |    CAST(count(DISTINCT pid % 5) AS BIGINT) AS n_databases,
       |    CAST(count(DISTINCT pid) FILTER (event_type = 'click') AS BIGINT)
       |      AS n_queries,
       |    CAST(sum(CASE WHEN event_type = 'click'
       |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS sum_runtime_ms,
       |    CAST(max(epoch_us(tsx) // 1000000) AS BIGINT) AS collected_at_s
       |  FROM ev),
       |fp AS (
       |  SELECT ${fnvHuge("'select * from orders where o_custkey = $'")} AS h)
       |SELECT
       |  'postgresql.log.' || o.file_idx AS original_name,
       |  o.byte_start,
       |  o.byte_start + o.len - CAST(length(o.content) AS BIGINT)
       |    AS byte_content_start,
       |  o.byte_start + o.len AS byte_end,
       |  o.pid AS backend_pid,
       |  CASE WHEN o.event_type = 'error' THEN 5 ELSE 6 END AS level,
       |  CASE o.event_type WHEN 'click' THEN 80 WHEN 'purchase' THEN 41
       |    WHEN 'view' THEN 20 WHEN 'signup' THEN 21 ELSE 73 END
       |    AS classification,
       |  'u' || o.pid AS rolname,
       |  'db' || (o.pid % 5) AS datname,
       |  CAST(epoch_us(o.tsx) // 1000000 AS BIGINT) AS occurred_at_s,
       |  o.event_type = 'click' AS has_query,
       |  CASE WHEN o.event_type = 'click' THEN (SELECT $signedFp FROM fp) END
       |    AS fingerprint,
       |  CASE WHEN o.event_type = 'click'
       |    THEN 'SELECT * FROM orders WHERE o_custkey = $$1' END
       |    AS normalized_query,
       |  o.content,
       |  f.file_byte_size,
       |  '0,1,6' AS filter_secret_kinds,
       |  CAST(3 AS BIGINT) AS n_files,
       |  c.n_lines, c.n_samples, c.n_roles, c.n_databases, c.n_queries,
       |  c.sum_runtime_ms, c.collected_at_s,
       |  TRUE AS integrity_ok
       |FROM o JOIN f USING (file_idx), c
       |-- the log path is bounded like the reference's backpressure
       |-- discard (runner/logs.go:265-283): an over-limit batch drops its
       |-- line+sample sections whole, so past 100k lines the document
       |-- carries no per-line rows (strictly-greater: a batch exactly at
       |-- the limit is kept)
       |WHERE (SELECT count(*) FROM o) <= 100000""".stripMargin
  }

  /** Compact activity snapshot e2e: re-derives the per-pid activity
    * tick (latest event per backend), the state/backend-type/wait
    * mappings, the constant query fingerprint, the vacuum tick, and
    * every document-level count from the same events rows. */
  val e2eActivitySnapshot: String = {
    val signedFp =
      s"""CAST(CASE WHEN h >= 9223372036854775808
         |  THEN h - 18446744073709551616 ELSE h END AS BIGINT)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id, user_id AS pid, value, event_type,
       |    regexp_extract(props, '"k": (\\d+)', 1) AS k,
       |    CAST(ts AS TIMESTAMP) AS tsx
       |  FROM events),
       |cur AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY pid
       |      ORDER BY tsx DESC, event_id DESC) AS rn
       |    FROM ev) t WHERE rn = 1),
       |b AS (
       |  SELECT pid, 'u' || pid AS rolname, 'db' || (pid % 5) AS datname,
       |    CASE event_type WHEN 'view' THEN 'idle'
       |      WHEN 'signup' THEN 'idle in transaction'
       |      ELSE 'active' END AS state,
       |    CASE WHEN pid % 17 = 0 THEN 'autovacuum worker'
       |      ELSE 'client backend' END AS backend_type,
       |    value > 150 AS waiting,
       |    CAST(epoch_us(tsx) // 1000000 AS BIGINT) AS query_start_s,
       |    k, event_type
       |  FROM cur),
       |b2 AS (
       |  SELECT *,
       |    state = 'active' AND backend_type = 'client backend' AS has_query
       |  FROM b),
       |verr AS (
       |  SELECT * FROM (
       |    SELECT pid, event_id, value,
       |      row_number() OVER (PARTITION BY pid ORDER BY event_id DESC)
       |        AS rn
       |    FROM ev WHERE event_type = 'error') t WHERE rn = 1),
       |vx AS (
       |  SELECT pid, CAST(floor(value * 10) AS BIGINT) AS relid,
       |    CAST(floor(value * 50) AS BIGINT) AS scanned
       |  FROM verr),
       |fp AS (
       |  SELECT ${fnvHuge("'select * from orders where o_custkey = $'")} AS h),
       |c AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_backends,
       |    (SELECT CAST(count(DISTINCT rolname) AS BIGINT) FROM b2)
       |      AS n_roles,
       |    (SELECT CAST(count(DISTINCT datname) AS BIGINT) FROM b2)
       |      AS n_databases,
       |    (SELECT CAST(count(*) AS BIGINT) FROM
       |      (SELECT DISTINCT datname, rolname FROM b2 WHERE has_query) z)
       |      AS n_queries,
       |    (SELECT CAST(count(*) AS BIGINT) FROM
       |      (SELECT DISTINCT pid % 5, relid FROM vx) z) AS n_relations,
       |    (SELECT CAST(count(*) AS BIGINT) FROM vx) AS n_vacuums,
       |    (SELECT CAST(COALESCE(sum(scanned), 0) AS BIGINT) FROM vx)
       |      AS sum_heap_blks_scanned,
       |    (SELECT CAST(max(query_start_s) AS BIGINT) FROM b2)
       |      AS collected_at_s)
       |SELECT b2.pid, b2.rolname, b2.datname, b2.has_query,
       |  CASE WHEN b2.has_query THEN (SELECT $signedFp FROM fp) END
       |    AS fingerprint,
       |  CASE WHEN b2.has_query
       |    THEN 'SELECT * FROM orders WHERE o_custkey = ' || b2.k END
       |    AS query_text,
       |  b2.query_start_s, b2.waiting, b2.state,
       |  CASE WHEN b2.waiting THEN 'Lock' ELSE '' END AS wait_event_type,
       |  CASE WHEN b2.waiting THEN 'transactionid' ELSE '' END AS wait_event,
       |  b2.backend_type,
       |  'PostgreSQL 17.0' AS pg_version,
       |  c.n_backends, c.n_roles, c.n_databases, c.n_queries,
       |  c.n_relations, c.n_vacuums, c.sum_heap_blks_scanned,
       |  c.collected_at_s,
       |  TRUE AS integrity_ok
       |FROM b2, c""".stripMargin
  }

  /** Compact system snapshot e2e: re-derives the per-core CPU
    * percentages (one division of exact integer sums, same operand
    * order), the memory/disk derivations, and the document counts. */
  val e2eSystemSnapshot: String =
    s"""WITH ev AS (
       |  SELECT user_id, value, CAST(ts AS TIMESTAMP) AS tsx FROM events),
       |cpu AS (
       |  SELECT CAST(user_id % 7 AS BIGINT) AS core_id,
       |    CAST(sum(CAST(floor(value * 10) AS BIGINT)) AS BIGINT) AS cu,
       |    CAST(sum(CAST(floor(value * 3) AS BIGINT)) AS BIGINT) AS cs,
       |    CAST(sum(CAST(floor(value * 20) AS BIGINT)) AS BIGINT) AS ci
       |  FROM ev GROUP BY 1),
       |g AS (
       |  SELECT
       |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
       |      AS ms_total,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(epoch_us(max(tsx)) // 1000000 AS BIGINT) AS collected_at_s
       |  FROM ev)
       |SELECT cpu.core_id,
       |  CAST(cu AS DOUBLE) / (cu + cs + ci) AS user_pct,
       |  CAST(cs AS DOUBLE) / (cu + cs + ci) AS system_pct,
       |  CAST(ci AS DOUBLE) / (cu + cs + ci) AS idle_pct,
       |  CAST(g.ms_total * 4096 AS BIGINT) AS mem_total_bytes,
       |  CAST(g.ms_total * 1024 AS BIGINT) AS mem_free_bytes,
       |  CAST(g.ms_total * 512 AS BIGINT) AS mem_cached_bytes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cpu) AS n_cpus,
       |  CAST(2 AS BIGINT) AS n_disks,
       |  CAST(g.n_events * 9 AS BIGINT) AS sum_disk_read_ops,
       |  'graft-system' AS system_id,
       |  g.collected_at_s,
       |  TRUE AS integrity_ok
       |FROM cpu, g""".stripMargin

  /** Query-run snapshot e2e: re-derives each run's guard outcome (the
    * oracle states only the expected verdicts; the engine computes them
    * with the real scanner), the stub plan JSON, and the timestamps. */
  val e2eQueryRunSnapshot: String =
    s"""WITH c AS (
       |  SELECT event_id AS run_id, user_id AS backend_pid,
       |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT)
       |      AS started_s,
       |    CASE WHEN event_id % 5 = 0
       |      THEN 'DELETE FROM orders WHERE o_custkey = '
       |      ELSE 'SELECT * FROM orders WHERE o_custkey = ' END
       |      || regexp_extract(props, '"k": (\\d+)', 1) AS query
       |  FROM events WHERE event_type = 'click')
       |SELECT run_id, backend_pid, started_s,
       |  started_s + 1 AS finished_s,
       |  run_id % 5 = 0 AS blocked,
       |  CASE WHEN run_id % 5 <> 0 THEN
       |    '{"Plan":{"Node Type":"Seq Scan","Relation Name":"orders","Total Cost":'
       |    || CAST(length(query) * 3 // 2 AS BIGINT) || '}}' END AS result,
       |  CASE WHEN run_id % 5 = 0 THEN 'dml' END AS error,
       |  TRUE AS integrity_ok
       |FROM c""".stripMargin

  /** Websocket-triggered query runs: the `% 3` request subset of the
    * query-run e2e — transport changes (requests arrive as ServerMessage
    * frames, replies decode server-side), the run semantics don't. */
  val e2eQueryRunWs: String =
    s"""WITH c AS (
       |  SELECT event_id AS run_id, user_id AS backend_pid,
       |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT)
       |      AS started_s,
       |    CASE WHEN event_id % 5 = 0
       |      THEN 'DELETE FROM orders WHERE o_custkey = '
       |      ELSE 'SELECT * FROM orders WHERE o_custkey = ' END
       |      || regexp_extract(props, '"k": (\\d+)', 1) AS query
       |  FROM events WHERE event_type = 'click' AND event_id % 3 = 0)
       |SELECT run_id, backend_pid, started_s,
       |  started_s + 1 AS finished_s,
       |  run_id % 5 = 0 AS blocked,
       |  CASE WHEN run_id % 5 <> 0 THEN
       |    '{"Plan":{"Node Type":"Seq Scan","Relation Name":"orders","Total Cost":'
       |    || CAST(length(query) * 3 // 2 AS BIGINT) || '}}' END AS result,
       |  CASE WHEN run_id % 5 = 0 THEN 'dml' END AS error,
       |  TRUE AS integrity_ok
       |FROM c""".stripMargin

  /** X14 exporter: re-derives every decoded OTLP span field — ids,
    * deterministic span id (FNV of "span:"+trace_id), tracestate vs
    * fallback timing, the sample URL — from the same events rows. */
  val x14SpanExport: String = {
    def signed(h: String) =
      s"""CAST(CASE WHEN $h >= 9223372036854775808
         |  THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id, user_id, value,
       |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events WHERE event_type = 'purchase'),
       |b AS (
       |  SELECT *, us // 1000000 AS secs,
       |    CAST(floor(value * 10) AS BIGINT) AS runtime_ms,
       |    lpad(CAST(event_id AS VARCHAR), 32, '0') AS trace_id,
       |    lpad(CAST(user_id AS VARCHAR), 16, '0') AS parent_span_id
       |  FROM ev WHERE event_id % 2 = 0),
       |c AS (
       |  SELECT *,
       |    CASE WHEN event_id % 3 = 0
       |      THEN 'pganalyze=t:' || (secs - 5) ELSE '' END AS trace_state,
       |    ${signed(fnvHuge("'span:' || trace_id"))} AS span_id,
       |    ${signed(fnvHuge("'select * from orders where o_custkey = $'"))} AS fp
       |  FROM b)
       |SELECT trace_id, parent_span_id, span_id, trace_state,
       |  CASE WHEN event_id % 3 = 0 THEN (secs - 5) * 1000000000
       |    ELSE us * 1000 - runtime_ms * 1000000 END AS start_ns,
       |  CASE WHEN event_id % 3 = 0
       |    THEN (secs - 5) * 1000000000 + runtime_ms * 1000000
       |    ELSE us * 1000 END AS end_ns,
       |  'EXPLAIN Plan' AS name, 'postgresql' AS db_system,
       |  'https://pganalyze.local/databases/' ||
       |    CASE user_id % 5 WHEN 0 THEN 'rdsadmin'
       |      WHEN 1 THEN 'azure_maintenance' WHEN 2 THEN 'cloudsqladmin'
       |      ELSE 'db_' || (user_id % 5) END ||
       |    '/queries/' || fp || '/samples/' || secs ||
       |    '?role=u' || user_id AS plan_url
       |FROM c""".stripMargin
  }

  /** DSIR importance weights re-derived: same FNV bucket hashing (1024
    * divides 2^64, so unsigned mod == the engine's signed pmod), same
    * exact-integer ratio operands, same bucket-ordered fold. */
  /** `dfFilter` restricts only the per-doc feature rollup (`df`) —
    * the bucket log-ratio tables aggregate the FULL corpus either way,
    * matching the engine's global distributions — and `finalSelect`
    * swaps the output stage (the global top-100 `selected` flag is
    * dropped in the doc-sliced sampled form: it needs every doc's
    * weight; the selection RULE is invariant-checked from the engine
    * output instead). */
  private[graft] def dsirSelectSql(dfFilter: String,
      finalSelect: String): String =
    s"""WITH dw AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                w -> len(w) > 0) AS ws
       |  FROM documents),
       |bgr AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(len(ws) - 1),
       |      i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
       |  FROM dw WHERE len(ws) >= 2),
       |f AS (
       |  SELECT doc_id, lang,
       |    CAST(${fnvHuge("'dsir:' || bg")} % 1024 AS BIGINT) AS bucket
       |  FROM bgr),
       |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY bucket),
       |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM f
       |        WHERE lang = 'en' GROUP BY bucket),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tr,
       |          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tt
       |        FROM f),
       |lr AS (
       |  SELECT r.bucket,
       |    ln(CAST((COALESCE(ct, 0) + 1) * (tr + 1024) AS DOUBLE)
       |       / CAST((cr + 1) * (tt + 1024) AS DOUBLE)) AS log_ratio
       |  FROM raw r LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
       |df AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
       |       FROM f $dfFilter GROUP BY 1, 2),
       |w AS (
       |  SELECT doc_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(n * log_ratio ORDER BY bucket)), (a, b) -> a + b), 6)
       |      AS dsir_weight,
       |    CAST(sum(n) AS BIGINT) AS n_bigrams
       |  FROM df JOIN lr USING (bucket) GROUP BY doc_id)
       |$finalSelect""".stripMargin

  val dsirSelect: String = dsirSelectSql("",
    """SELECT doc_id, n_bigrams, dsir_weight,
      |  (row_number() OVER (ORDER BY dsir_weight DESC, doc_id)) <= 100
      |    AS selected
      |FROM w""".stripMargin)

  /** Full SQL re-derivation of the product-quantization path
    * ([[graft.operators.ProductQuant]]): per-subspace deterministic
    * k-means (init = 16 lowest-id subvectors, two Lloyd iterations
    * with the two-level id-ordered chunk fold), squared-L2 assignment
    * with cluster tie-breaks, per-query ADC tables, subspace-ordered
    * distance folds, recall vs exact L2 brute force. */
  // ------------------------------------------------------------------
  // Shared PQ/IVF-PQ k-means oracle builders: index-ordered L2 folds,
  // rank-1 assignment, the chunked two-level centroid update, and the
  // subvector view — all parameterized on subspace count/width so the
  // coarse quantizer (m = 1, subDim = 64) and the residual PQ
  // (m = 8, subDim = 8) reuse one bit-exact reproduction.
  private def pqD2(a: String, b: String, n: Int) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range($n),
       |    d -> ($a[d+1] - $b[d+1]) * ($a[d+1] - $b[d+1]))),
       |  (x, y) -> x + y)""".stripMargin
  private def pqSvCte(name: String, src: String, vecCol: String, m: Int,
      subDim: Int, castDouble: Boolean) = {
    val cell =
      if (castDouble) s"CAST($vecCol[j*$subDim + d + 1] AS DOUBLE)"
      else s"$vecCol[j*$subDim + d + 1]"
    s"""$name AS MATERIALIZED (
       |  SELECT id, j,
       |    list_transform(range($subDim), d -> $cell) AS s
       |  FROM $src CROSS JOIN (SELECT unnest(range($m)) AS j) js)""".stripMargin
  }
  private def pqInitCte(name: String, sv: String, k: Int) =
    s"""$name AS MATERIALIZED (
       |  SELECT j,
       |    CAST(row_number() OVER (PARTITION BY j ORDER BY id) - 1 AS INT)
       |      AS cluster,
       |    s AS centroid
       |  FROM $sv WHERE id IN (SELECT id FROM e ORDER BY id LIMIT $k))""".stripMargin
  private def pqAssignCte(name: String, sv: String, cents: String,
      subDim: Int) =
    s"""$name AS MATERIALIZED (
       |  SELECT id, j, s, cluster FROM (
       |    SELECT sv.id, sv.j, sv.s, c.cluster,
       |      row_number() OVER (PARTITION BY sv.id, sv.j
       |        ORDER BY ${pqD2("sv.s", "c.centroid", subDim)}, c.cluster) AS rn
       |    FROM $sv sv JOIN $cents c USING (j)) t WHERE rn = 1)""".stripMargin
  private def pqUpdateCte(name: String, assigned: String, prev: String,
      subDim: Int) = {
    val w = graft.operators.Similarity.DefaultChunkWidth
    s"""$name AS MATERIALIZED (
       |  SELECT p.j, p.cluster, COALESCE(u.centroid, p.centroid) AS centroid
       |  FROM $prev p LEFT JOIN (
       |    SELECT j, cluster,
       |      list_transform(range($subDim), d ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(pss, ps -> ps[d+1])),
       |          (a, b) -> a + b) / total_cnt) AS centroid
       |    FROM (
       |      SELECT j, cluster, list(psum ORDER BY chunk) AS pss,
       |        CAST(sum(cnt) AS BIGINT) AS total_cnt
       |      FROM (
       |        SELECT j, cluster, chunk,
       |          list_transform(range($subDim), d ->
       |            list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |              list_transform(ms, m2 -> m2[d+1])),
       |              (a, b) -> a + b)) AS psum,
       |          len(ms) AS cnt
       |        FROM (SELECT j, cluster, id // $w AS chunk,
       |                list(s ORDER BY id) AS ms
       |              FROM $assigned GROUP BY j, cluster, chunk) g1) g2
       |      GROUP BY j, cluster) g3) u USING (j, cluster))""".stripMargin
  }
  /** c0 → (assign, update) ×2 → final codes, for a 2-iteration fit —
    * the engine's `ProductQuant.fit(iters = 2)` + `encode`. */
  private def pqChainCtes(p: String, sv: String, subDim: Int,
      k: Int): String =
    Seq(
      pqInitCte(s"${p}c0", sv, k),
      pqAssignCte(s"${p}a1", sv, s"${p}c0", subDim),
      pqUpdateCte(s"${p}c1", s"${p}a1", s"${p}c0", subDim),
      pqAssignCte(s"${p}a2", sv, s"${p}c1", subDim),
      pqUpdateCte(s"${p}c2", s"${p}a2", s"${p}c1", subDim),
      pqAssignCte(s"${p}codes", sv, s"${p}c2", subDim)).mkString(",\n")

  val embedPqRecall: String = {
    def d2(a: String, b: String) = pqD2(a, b, 8)
    s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |${pqSvCte("sv", "e", "vec", 8, 8, castDouble = true)},
       |${pqChainCtes("", "sv", 8, 16)},
       |q AS (SELECT id AS q_id, vec AS q_vec FROM e WHERE id < 20),
       |qsv AS (
       |  SELECT q_id, j,
       |    list_transform(range(8), d -> CAST(q_vec[j*8 + d + 1] AS DOUBLE)) AS s
       |  FROM q CROSS JOIN (SELECT unnest(range(8)) AS j) js),
       |dtab AS (
       |  SELECT q_id, c.j, c.cluster, ${d2("qsv.s", "c.centroid")} AS d2
       |  FROM qsv JOIN c2 c USING (j)),
       |ad AS (
       |  SELECT q_id, codes.id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(d2 ORDER BY codes.j)), (a, b) -> a + b) AS adist
       |  FROM codes JOIN dtab
       |    ON codes.j = dtab.j AND codes.cluster = dtab.cluster
       |  WHERE codes.id <> dtab.q_id
       |  GROUP BY q_id, codes.id),
       |adr AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rk
       |  FROM ad),
       |pq AS (SELECT q_id, n_id FROM adr WHERE rk <= 5),
       |rr AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT c50.q_id, c50.n_id,
       |      row_number() OVER (PARTITION BY c50.q_id ORDER BY
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(64),
       |            d -> (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE))
       |               * (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE)))),
       |          (a, b) -> a + b), c50.n_id) AS rk
       |    FROM (SELECT q_id, n_id FROM adr WHERE rk <= 50) c50
       |    JOIN q USING (q_id) JOIN e ON e.id = c50.n_id) t
       |  WHERE rk <= 5),
       |bfs AS (
       |  SELECT q.q_id, e.id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(64),
       |        d -> (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE))
       |           * (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE)))),
       |      (a, b) -> a + b) AS d2
       |  FROM q CROSS JOIN e WHERE q.q_id <> e.id),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rk
       |    FROM bfs) t WHERE rk <= 5)
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(p.n_id) AS BIGINT) AS n_hit_adc,
       |  CAST(count(r.n_id) AS BIGINT) AS n_hit_rerank,
       |  CAST(count(p.n_id) AS DOUBLE) / count(*) AS recall_adc,
       |  CAST(count(r.n_id) AS DOUBLE) / count(*) AS recall_rerank,
       |  CAST(4 AS BIGINT) AS bytes_per_vec
       |FROM bf LEFT JOIN pq p USING (q_id, n_id)
       |  LEFT JOIN rr r USING (q_id, n_id)""".stripMargin
  }

  /** IVF-PQ: the full composed index bit-reproduced — coarse full-dim
    * k-means (the m = 1 chain), residuals against the assigned coarse
    * centroid, the residual-PQ chain, nprobe = 4 coarse routing per
    * query, per-probed-list residual distance tables, and the
    * list-restricted ADC fold — against exact-L2 truth. */
  val embedIvfPqRecall: String = {
    s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |${pqSvCte("svc", "e", "vec", 1, 64, castDouble = true)},
       |${pqChainCtes("c", "svc", 64, 16)},
       |res AS (
       |  SELECT cc.id, cc.cluster AS cl,
       |    list_transform(range(64),
       |      d -> CAST(e.vec[d+1] AS DOUBLE) - c.centroid[d+1]) AS rvec
       |  FROM ccodes cc JOIN e ON e.id = cc.id
       |  JOIN cc2 c ON c.j = cc.j AND c.cluster = cc.cluster),
       |${pqSvCte("svr", "res", "rvec", 8, 8, castDouble = false)},
       |${pqChainCtes("r", "svr", 8, 16)},
       |q AS (SELECT id AS q_id, vec AS q_vec FROM e WHERE id < 20),
       |qp AS (
       |  SELECT q_id, cluster AS cl, rvec FROM (
       |    SELECT q.q_id, c.cluster,
       |      list_transform(range(64),
       |        d -> CAST(q.q_vec[d+1] AS DOUBLE) - c.centroid[d+1]) AS rvec,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(64),
       |            d -> (CAST(q.q_vec[d+1] AS DOUBLE) - c.centroid[d+1])
       |               * (CAST(q.q_vec[d+1] AS DOUBLE) - c.centroid[d+1]))),
       |          (x, y) -> x + y), c.cluster) AS rn
       |    FROM q CROSS JOIN cc2 c) t WHERE rn <= 4),
       |qsvr AS (
       |  SELECT q_id, cl, j,
       |    list_transform(range(8), d -> rvec[j*8 + d + 1]) AS s
       |  FROM qp CROSS JOIN (SELECT unnest(range(8)) AS j) js),
       |dtq AS (
       |  SELECT q_id, cl, c.j AS j, c.cluster AS code,
       |    ${pqD2("qsvr.s", "c.centroid", 8)} AS d2
       |  FROM qsvr JOIN rc2 c ON c.j = qsvr.j),
       |ad AS (
       |  SELECT dtq.q_id, pc.id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(dtq.d2 ORDER BY pc.j)), (a, b) -> a + b) AS adist
       |  FROM rcodes pc
       |  JOIN res ON res.id = pc.id
       |  JOIN dtq ON dtq.cl = res.cl AND dtq.j = pc.j
       |    AND dtq.code = pc.cluster
       |  WHERE pc.id <> dtq.q_id
       |  GROUP BY dtq.q_id, pc.id),
       |adr AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rk
       |  FROM ad),
       |top5 AS (SELECT q_id, n_id FROM adr WHERE rk <= 5),
       |rr AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT c50.q_id, c50.n_id,
       |      row_number() OVER (PARTITION BY c50.q_id ORDER BY
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(64),
       |            d -> (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE))
       |               * (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE)))),
       |          (a, b) -> a + b), c50.n_id) AS rk
       |    FROM (SELECT q_id, n_id FROM adr WHERE rk <= 50) c50
       |    JOIN q USING (q_id) JOIN e ON e.id = c50.n_id) t
       |  WHERE rk <= 5),
       |bfs AS (
       |  SELECT q.q_id, e.id AS n_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(64),
       |        d -> (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE))
       |           * (CAST(q.q_vec[d+1] AS DOUBLE) - CAST(e.vec[d+1] AS DOUBLE)))),
       |      (a, b) -> a + b) AS d2
       |  FROM q CROSS JOIN e WHERE q.q_id <> e.id),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rk
       |    FROM bfs) t WHERE rk <= 5),
       |np AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_probed
       |  FROM qp JOIN res ON res.cl = qp.cl)
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(p.n_id) AS BIGINT) AS n_hit_adc,
       |  CAST(count(r.n_id) AS BIGINT) AS n_hit_rerank,
       |  CAST(count(p.n_id) AS DOUBLE) / count(*) AS recall_adc,
       |  CAST(count(r.n_id) AS DOUBLE) / count(*) AS recall_rerank,
       |  (SELECT n_probed FROM np) AS n_probed,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e)
       |    * (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_exhaustive
       |FROM bf LEFT JOIN top5 p USING (q_id, n_id)
       |  LEFT JOIN rr r USING (q_id, n_id)""".stripMargin
  }

  /** Line-level (5-word-segment) first-occurrence dedup: same slicing,
    * same `line:`-prefixed FNV64 segment keys, first occurrence = lowest
    * (doc_id, seg_id) per key. Docs shorter than one segment keep a row
    * via the LEFT JOIN. */
  val dedupLines: String = {
    val h = fnvHuge("'line:' || seg")
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0) AS ws
       |  FROM documents),
       |base AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words, ws FROM d),
       |seg AS (
       |  SELECT doc_id, n_words,
       |    unnest(range(len(ws) // 5)) AS seg_id,
       |    list_transform(range(len(ws) // 5),
       |      i -> array_to_string(ws[i*5+1 : i*5+5], ' ')) AS all_segs
       |  FROM base),
       |sh AS (
       |  SELECT doc_id, seg_id, $h AS hh
       |  FROM (SELECT doc_id, seg_id, all_segs[seg_id + 1] AS seg FROM seg)),
       |rn AS (
       |  SELECT doc_id, seg_id,
       |    row_number() OVER (PARTITION BY hh ORDER BY doc_id, seg_id) AS rn
       |  FROM sh),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
       |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM rn GROUP BY doc_id)
       |SELECT b.doc_id, b.n_words,
       |  COALESCE(a.n_segs, 0) AS n_segs,
       |  COALESCE(a.n_dup, 0) AS n_dup_segs,
       |  round(COALESCE(a.n_dup, 0) * 5 /
       |    CAST(greatest(b.n_words, 1) AS DOUBLE), 6) AS frac_removed
       |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** Count–Min sketch: same 4×1024 grid, same seeded `d:word` FNV
    * bucket keys (1024 divides 2^64 → unsigned mod here equals the
    * engine's signed pmod), estimate = min over depth rows. */
  val freqCms: String = {
    val h = fnvHuge("CAST(d AS VARCHAR) || ':' || w")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0)) AS w
       |  FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
       |dep AS (SELECT unnest(range(4)) AS d),
       |wb AS (
       |  SELECT w, cnt, d, CAST($h % 1024 AS BIGINT) AS b
       |  FROM wc CROSS JOIN dep),
       |sketch AS (
       |  SELECT d, b, CAST(sum(cnt) AS BIGINT) AS cell
       |  FROM wb GROUP BY d, b),
       |cands AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 30)
       |SELECT c.w, c.cnt AS cnt_exact,
       |  min(s.cell) AS cms_est,
       |  min(s.cell) - c.cnt AS overcount
       |FROM cands c JOIN wb USING (w) JOIN sketch s
       |  ON s.d = wb.d AND s.b = wb.b
       |GROUP BY c.w, c.cnt""".stripMargin
  }

  /** Bloom decontamination: same winnow fingerprints, same 3 seeded
    * `b{j}:fp` FNV probes into 4096 positions (divides 2^64 → unsigned
    * mod = the engine's signed pmod), maybe-in = all probes set. */
  val decontamBloom: String = {
    def h(j: Int) = fnvHuge(s"'b$j:' || CAST(fp AS VARCHAR)")
    s"""WITH ${winnowCtes()},
       |bfp AS (SELECT DISTINCT unnest(fps) AS fp FROM f WHERE doc_id % 97 = 0),
       |probes AS (
       |  SELECT DISTINCT CAST(hh % 4096 AS BIGINT) AS pos FROM (
       |    SELECT ${h(0)} AS hh FROM bfp
       |    UNION ALL SELECT ${h(1)} FROM bfp
       |    UNION ALL SELECT ${h(2)} FROM bfp)),
       |tr AS (SELECT doc_id AS train_id, unnest(fps) AS fp
       |       FROM f WHERE doc_id % 97 <> 0),
       |flags AS (
       |  SELECT train_id,
       |    (CAST(${h(0)} % 4096 AS BIGINT) IN (SELECT pos FROM probes)
       |     AND CAST(${h(1)} % 4096 AS BIGINT) IN (SELECT pos FROM probes)
       |     AND CAST(${h(2)} % 4096 AS BIGINT) IN (SELECT pos FROM probes))
       |      AS maybe_in,
       |    fp IN (SELECT fp FROM bfp) AS exact_in
       |  FROM tr)
       |SELECT train_id,
       |  CAST(count(*) AS BIGINT) AS n_fps,
       |  CAST(sum(CASE WHEN exact_in THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN maybe_in THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       |  CAST(sum(CASE WHEN maybe_in THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN exact_in THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_false_pos,
       |  sum(CASE WHEN maybe_in THEN 1 ELSE 0 END) >= 3 AS flagged
       |FROM flags GROUP BY train_id""".stripMargin
  }

  /** SQ8 ANN recall: same 254-level per-dim grid as embed_quantize,
    * same index-ordered cosine folds, truth = the embed_cosine_topk
    * brute-force CTE. */
  val embedSq8Recall: String =
    s"""WITH bf AS (${Oracles.sql("embed_cosine_topk")}),
       |e2 AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i
       |       FROM e2),
       |bounds AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
       |deq AS (
       |  SELECT vec_id AS n_id,
       |    list(CASE WHEN mx > mn THEN
       |        (round((x - mn) / (mx - mn) * 254) / 254) * (mx - mn) + mn
       |      ELSE mn END ORDER BY i) AS dv
       |  FROM ex JOIN bounds USING (i) GROUP BY vec_id),
       |q2 AS (SELECT vec_id AS q_id, v AS qv FROM e2 WHERE vec_id < 20),
       |sc AS (
       |  SELECT q_id, n_id,
       |    ${seqDot("qv", "dv")} AS dot,
       |    sqrt(${seqDot("qv", "qv")}) * sqrt(${seqDot("dv", "dv")}) AS denom
       |  FROM q2 CROSS JOIN deq WHERE q_id <> n_id),
       |rk AS (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC,
       |             n_id) AS rank
       |  FROM sc),
       |ap AS (SELECT q_id, n_id FROM rk WHERE rank <= 5)
       |SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(a.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.n_id) AS DOUBLE) / count(*) AS recall_sq8
       |FROM bf LEFT JOIN ap a USING (q_id, n_id)""".stripMargin

  /** Best-fit-decreasing packing: the engine's per-shard fold replayed
    * as a sentinel-flat-list list_reduce (fills ++ [-1] ++ assigned
    * example ids; elements are single-element BIGINT lists so the
    * accumulator type matches). Best fit = max feasible fill; its
    * FIRST index in the fills list is the engine's tie-break, and
    * feasibility depends only on the value, so list_position is safe. */
  val packBestfit: String = {
    val h = fnvHuge("'shard:' || CAST(doc_id AS VARCHAR)")
    // shared sub-expressions, inlined (DuckDB lambdas have no let)
    val p = "list_position(acc, -1)"
    val base = s"acc[1 : $p - 1]"
    val asg = s"acc[$p + 1 : len(acc)]"
    val feas = s"list_filter($base, f -> f + e[1] <= 512)"
    val best = s"list_aggregate($feas, 'max')"
    val ex = s"list_position($base, $best) - 1"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, n_tok, CAST($h % 16 AS INT) AS shard,
       |    CAST((row_number() OVER (PARTITION BY CAST($h % 16 AS INT)
       |      ORDER BY n_tok DESC, doc_id) - 1) // 512 AS BIGINT) AS batch
       |  FROM d),
       |lists AS (
       |  SELECT shard, batch,
       |    list(struct_pack(doc_id := doc_id, n_tok := n_tok)
       |      ORDER BY n_tok DESC, doc_id) AS docs
       |  FROM sh GROUP BY shard, batch),
       |folded AS (
       |  SELECT shard, batch, docs,
       |    list_reduce(list_prepend(CAST([-1] AS BIGINT[]),
       |      list_transform(docs, x -> [x.n_tok])),
       |      (acc, e) -> CASE
       |        WHEN len($feas) = 0 THEN
       |          list_concat(list_append($base, e[1]),
       |            list_concat(CAST([-1] AS BIGINT[]),
       |              list_append($asg, CAST(len($base) AS BIGINT))))
       |        ELSE
       |          list_concat(
       |            list_transform(range(len($base)), i -> CASE
       |              WHEN i = $ex THEN ($base)[i+1] + e[1]
       |              ELSE ($base)[i+1] END),
       |            list_concat(CAST([-1] AS BIGINT[]),
       |              list_append($asg, CAST($ex AS BIGINT))))
       |        END) AS acc
       |  FROM lists),
       |zipped AS (
       |  SELECT shard, batch,
       |    unnest(docs) AS doc,
       |    unnest(acc[list_position(acc, -1) + 1 : len(acc)]) AS ex
       |  FROM folded)
       |SELECT shard, batch, ex AS example_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(doc.n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(doc.n_tok) AS BIGINT) / 512.0, 6) AS fill_ratio
       |FROM zipped GROUP BY shard, batch, ex""".stripMargin
  }

  /** Gopher char-fraction repetition signals: same n-gram windows,
    * same tie-breaks, same integer-over-integer single divisions. */
  val textDupNgramFrac: String = {
    def ngSel(n: Int) =
      s"""list_transform(range(len(ws) - $n + 1),
         |    i -> array_to_string(ws[i+1 : i+$n], ' ')) AS ng$n""".stripMargin
    def cnSel(n: Int) =
      s"""list_transform(ng$n, g ->
         |      len(list_filter(ng$n, h -> h = g))) AS cn$n""".stripMargin
    def topFrac(n: Int) =
      s"""CASE WHEN len(ng$n) = 0 THEN 0.0 ELSE
         |  CAST(list_aggregate(cn$n, 'max')
         |    * length(replace(list_aggregate(list_transform(
         |        list_filter(range(len(ng$n)), i ->
         |          cn$n[i+1] = list_aggregate(cn$n, 'max')),
         |        i -> ng$n[i+1]), 'min'),
         |      ' ', ''))
         |    AS DOUBLE) / tc END AS top${n}_gram_frac""".stripMargin
    def dupFrac(n: Int) =
      s"""CASE WHEN len(ng$n) = 0 THEN 0.0 ELSE
         |  CAST(COALESCE(list_aggregate(list_transform(
         |    list_distinct(flatten(list_transform(
         |      list_filter(range(len(ws) - $n + 1), i -> cn$n[i+1] >= 2),
         |      i -> range(i, i + $n)))),
         |    p -> len(ws[p+1])), 'sum'), 0) AS DOUBLE) / tc
         |  END AS dup${n}_gram_frac""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> len(w) > 0) AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, ws,
       |    CAST(COALESCE(list_aggregate(list_transform(ws, w -> len(w)),
       |      'sum'), 0) AS INT) AS tc
       |  FROM d),
       |ng0 AS (
       |  SELECT doc_id, ws, tc,
       |    ${(2 to 10).map(ngSel).mkString(",\n    ")}
       |  FROM base),
       |ngs AS (
       |  SELECT *,
       |    ${(2 to 10).map(cnSel).mkString(",\n    ")}
       |  FROM ng0)
       |SELECT doc_id, tc AS n_chars,
       |  ${(2 to 4).map(topFrac).mkString(",\n  ")},
       |  ${(5 to 10).map(dupFrac).mkString(",\n  ")}
       |FROM ngs""".stripMargin
  }

  /** Hybrid RRF: same rarest-3-terms BM25 (term-ordered folds), same
    * brute-force cosine, RRF(60) fused with n_id tie-breaks. */
  val hybridSearchRrf: String =
    """WITH corpus AS (
      |  SELECT d.doc_id,
      |    list_filter(string_split_regex(lower(d.text), '\s+'),
      |      w -> len(w) > 0) AS ws,
      |    e.embedding
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(len(ws)) AS sum_dl FROM corpus),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM corpus),
      |dfreq AS (
      |  SELECT term, count(*) AS df FROM (
      |    SELECT doc_id, unnest(list_distinct(ws)) AS term FROM corpus)
      |  GROUP BY term),
      |q AS (SELECT doc_id AS q_id, ws, embedding FROM corpus
      |      WHERE doc_id % 101 = 0 AND doc_id < 101 * 128),
      |qt AS (
      |  SELECT q_id, term, df FROM (
      |    SELECT q_id, term, df, row_number() OVER (PARTITION BY q_id
      |      ORDER BY df ASC, term ASC) AS trk
      |    FROM (SELECT q_id, unnest(list_distinct(ws)) AS term FROM q)
      |      JOIN dfreq USING (term)) x
      |  WHERE trk <= 3),
      |tf AS (
      |  SELECT qt.q_id, t.doc_id, t.dl, qt.term, qt.df, count(*) AS tf
      |  FROM t JOIN qt USING (term) WHERE t.doc_id <> qt.q_id
      |  GROUP BY 1, 2, 3, 4, 5),
      |sc AS (
      |  SELECT q_id, doc_id, term,
      |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf
      |      / (tf + 1.2 * (0.25 + 0.75 * dl
      |           / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS contrib
      |  FROM tf CROSS JOIN stats),
      |lex AS (
      |  SELECT q_id, doc_id AS n_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
      |  FROM (
      |    SELECT q_id, doc_id,
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list(contrib ORDER BY term)), (a, b) -> a + b) AS bm25
      |    FROM sc GROUP BY q_id, doc_id) y),
      |lex20 AS (SELECT * FROM lex WHERE rank_lex <= 20),""".stripMargin +
    // vec arm dots fold in INDEX order (seqDot) — a parallel SUM
    // aggregate can reorder float adds and flip near-tie ranks
    s"""
      |s2 AS (
      |  SELECT q.q_id, c.doc_id AS n_id,
      |    ${seqDot("q.embedding", "c.embedding")} AS dot,
      |    sqrt(${seqDot("q.embedding", "q.embedding")})
      |      * sqrt(${seqDot("c.embedding", "c.embedding")}) AS denom
      |  FROM q, corpus c WHERE q.q_id <> c.doc_id),""".stripMargin +
    """
      |vec AS (
      |  SELECT q_id, n_id, CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC,
      |             n_id) AS INT) AS rank_vec
      |  FROM s2),
      |vec20 AS (SELECT * FROM vec WHERE rank_vec <= 20),
      |fused AS (
      |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
      |    COALESCE(l.n_id, v.n_id) AS n_id, l.rank_lex, v.rank_vec,
      |    round(COALESCE(1.0 / (60 + l.rank_lex), 0.0)
      |      + COALESCE(1.0 / (60 + v.rank_vec), 0.0), 6) AS rrf_score
      |  FROM lex20 l FULL OUTER JOIN vec20 v
      |    ON l.q_id = v.q_id AND l.n_id = v.n_id)
      |SELECT * FROM (
      |  SELECT q_id, n_id, rank_lex, rank_vec, rrf_score,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY rrf_score DESC, n_id) AS INT) AS rank_rrf
      |  FROM fused) z
      |WHERE rank_rrf <= 10""".stripMargin

  /** Matryoshka truncation recall: prefix-width cosines per dims arm,
    * truth = the full-width brute-force CTE. */
  val embedMrlRecall: String =
    s"""WITH bf AS (${Oracles.sql("embed_cosine_topk")}),
       |dims AS (SELECT unnest([8, 16, 32]) AS dims),
       |qd AS (
       |  SELECT d.dims, vec_id AS q_id, embedding[1:d.dims] AS qv
       |  FROM embeddings CROSS JOIN dims d WHERE vec_id < 20),
       |cd AS (
       |  SELECT d.dims, vec_id AS n_id, embedding[1:d.dims] AS cv
       |  FROM embeddings CROSS JOIN dims d),
       |s AS (
       |  SELECT qd.dims, q_id, n_id,
       |    ${seqDot("qv", "cv")} AS dot,
       |    sqrt(${seqDot("qv", "qv")}) * sqrt(${seqDot("cv", "cv")}) AS denom
       |  FROM qd JOIN cd ON qd.dims = cd.dims
       |  WHERE q_id <> n_id),
       |ap AS (
       |  SELECT dims, q_id, n_id FROM (
       |    SELECT dims, q_id, n_id, row_number() OVER (
       |      PARTITION BY dims, q_id
       |      ORDER BY (CASE WHEN denom = 0 THEN 0.0 ELSE dot / denom END) DESC,
       |               n_id) AS rank
       |    FROM s) t WHERE rank <= 5)
       |SELECT d.dims, CAST(count(*) AS BIGINT) AS n_truth,
       |  CAST(count(a.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.n_id) AS DOUBLE) / count(*) AS recall
       |FROM dims d CROSS JOIN bf b
       |  LEFT JOIN ap a ON a.dims = d.dims AND a.q_id = b.q_id
       |    AND a.n_id = b.n_id
       |GROUP BY d.dims""".stripMargin

  /** Histogram quantiles: same width-4 buckets, same ceil(q·n) target,
    * same min-v exact rule. */
  val quantileSketch: String =
    """WITH vals AS (
      |  SELECT CAST(len(regexp_extract_all(lower(text),
      |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS v
      |  FROM documents),
      |hist AS (
      |  SELECT v // 4 AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM vals GROUP BY v // 4),
      |hc AS (
      |  SELECT bucket,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS tot
      |  FROM hist),
      |ex AS (
      |  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
      |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS cnt
      |        FROM vals GROUP BY v) t),
      |grid AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
      |est AS (
      |  SELECT q, min(bucket * 4 + 3) AS est_hist, min(tot) AS n
      |  FROM grid CROSS JOIN hc
      |  WHERE cum >= ceil(q * tot) GROUP BY q),
      |exv AS (
      |  SELECT q, min(v) AS exact_val
      |  FROM grid CROSS JOIN ex CROSS JOIN (SELECT max(tot) AS tot FROM hc) t2
      |  WHERE cum >= ceil(q * tot) GROUP BY q)
      |SELECT est.q, est.n, est.est_hist, exv.exact_val,
      |  est.est_hist - exv.exact_val AS err
      |FROM est JOIN exv USING (q)""".stripMargin

  val sql: Map[String, String] = Map(
    "dedup_lines" -> dedupLines,
    "freq_cms" -> freqCms,
    "decontam_bloom" -> decontamBloom,
    "embed_sq8_recall" -> embedSq8Recall,
    "hybrid_search_rrf" -> hybridSearchRrf,
    "embed_mrl_recall" -> embedMrlRecall,
    "quantile_sketch" -> quantileSketch,
    "pack_bestfit" -> packBestfit,
    "text_dup_ngram_frac" -> textDupNgramFrac,
    "e2e_full_snapshot" -> e2eFullSnapshot,
    // the transported variants decode the bytes the server received —
    // the document content (and thus the oracle) is identical
    "e2e_snapshot_upload" -> e2eFullSnapshot,
    "e2e_snapshot_ws_upload" -> e2eFullSnapshot,
    "e2e_compact_snapshot" -> e2eCompactSnapshot,
    "e2e_activity_snapshot" -> e2eActivitySnapshot,
    "e2e_system_snapshot" -> e2eSystemSnapshot,
    "e2e_query_run_snapshot" -> e2eQueryRunSnapshot,
    "e2e_query_run_ws" -> e2eQueryRunWs,
    "x14_span_export" -> x14SpanExport,
    "dsir_select" -> dsirSelect,
    "embed_pq_recall" -> embedPqRecall,
    "embed_ivfpq_recall" -> embedIvfPqRecall,
    "x7_autovacuum_details" -> x7AutovacuumDetails,
    "x7_checkpoint_details" -> x7CheckpointDetails,
    "doc_pii_scrub" -> docPiiScrub,
    "x9_spans" -> x9Spans,
    "dedup_components" -> dedupComponents,
    "dedup_keep_best" -> dedupKeepBest,
    "doc_chunking" -> docChunking,
    "sample_split" -> sampleSplit,
    "sample_domain_cap" -> sampleDomainCap,
    "tokenizer_bpe_merges" -> tokenizerBpeMerges,
    "tokenizer_bpe_encode" -> tokenizerBpeEncode,
    "dedup_substrings" -> dedupSubstrings,
    "text_lm_score" -> textLmScore,
    "corpus_ppl_buckets" -> corpusPplBuckets,
    "tokenizer_unigram" -> tokenizerUnigram,
    "tokenizer_unigram_encode" -> tokenizerUnigramEncode,
    "dedup_url_canonical" -> dedupUrlCanonical,
    "corpus_curation_funnel" -> corpusCurationFunnel,
    "stream_curation" -> streamCuration,
    "embed_pca_power" -> embedPcaPower,
    "embed_whiten" -> embedWhiten,
    "corpus_profile" -> corpusProfile,
    "text_entropy" -> textEntropy,
    "sample_shard_manifest" -> sampleShardManifest,
    "sample_seq_pack" -> sampleSeqPack,
    "corpus_distinct_hll" -> corpusDistinctHll,
    "corpus_distinct_by_source" -> corpusDistinctBySource,
    "mix_kl_divergence" -> mixKlDivergence,
    "sample_stratified" -> sampleStratified,
    // Heavy hitters: the MG sketch only proposes candidates; the final
    // answer is exact counts above the n/(k+1) guarantee threshold, so
    // the oracle is a plain GROUP BY with the same integer compare.
    "text_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> len(w) > 0)) AS w
        |  FROM documents),
        |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
        |SELECT w, cnt, CAST(cnt AS DOUBLE) / n_tokens AS share
        |FROM cnt, tot WHERE cnt * 201 > n_tokens""".stripMargin,
    // Streaming MG: same final-answer contract as the batch entry —
    // the guarantee threshold makes the answer sketch-, shard- and
    // batch-boundary-independent, so the exact GROUP BY gates it.
    "stream_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> len(w) > 0)) AS w
        |  FROM documents),
        |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
        |SELECT w, cnt, CAST(cnt AS DOUBLE) / n_tokens AS share
        |FROM cnt, tot WHERE cnt * 201 > n_tokens""".stripMargin,
    "sample_mix_sources" -> sampleMixSources,
    "doc_decontaminate" -> docDecontaminate,
    "text_vocab_topk" -> textVocabTopK,
    "x12_explain_normalize" -> x12ExplainNormalize,
    "mm_decode_features" -> mmDecodeFeatures,
    "mm_frame_sample" -> mmFrameSample,
    "x3_utility" -> x3Utility,
    "x20_query_guard" -> x20QueryGuard,
    "x10_credential_scrub" -> x10CredentialScrub,
    "x14_trace_extract" -> x14TraceExtract,
    "x18_log_repair" -> x18LogRepair,
    "x15_unpack" -> x15Unpack,
    "t2_historic_latest" -> t2HistoricLatest,
    "f6_time_window" -> f6TimeWindow,
    "f7_prefilter" -> f7Prefilter,
    "f8_explain_skip" -> f8ExplainSkip,
    "x7_full_classify" -> x7FullClassify,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_fuzzy_e2e" -> dedupFuzzyE2e,
    "dedup_stream_lsh" -> dedupStreamLsh,
    "dedup_incremental" -> dedupIncremental,
    "dedup_stream_index" -> dedupStreamIndex,
    "index_maintenance_policy" -> indexMaintenancePolicy,
    "ivf_refit_policy" -> ivfRefitPolicy,
    "dedup_simhash" -> dedupSimhash,
    "embed_ann_lsh" -> embedAnnLsh,
    "embed_ann_recall" -> embedAnnRecall,
    "embed_ivf_recall" -> embedIvfRecall,
    // the persisted-index path must reproduce the in-memory IVF recall
    // frame bit-for-bit: same oracle SQL verbatim
    "embed_ivf_persisted" -> embedIvfRecall,
    "embed_ivf_append" -> embedIvfAppend,
    // refit ≡ from-scratch fit over the union corpus, so the oracle is
    // embed_ivf_recall's verbatim — the strongest possible pin of the
    // maintenance step (see QueriesText.embedIvfRefit)
    "embed_ivf_refit" -> embedIvfRecall,
    "sem_dedup" -> semDedup,
    "sem_dedup_2l" -> semDedup2L,
    "sem_dedup_bounded" -> semDedupBounded,
    "doc_winnow" -> docWinnow,
    "doc_cdc_chunks" -> docCdcChunks,
    "embed_near_dups" -> embedNearDups,
    "embed_near_dups_auto" -> embedNearDupsAuto,
    "x1_normalize_goldens" -> x1NormalizeGoldens,
    "x1_fingerprint_collapse" -> x1FingerprintCollapse)
}
