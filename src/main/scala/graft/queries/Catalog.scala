package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-facing query catalog: every operator class from SURVEY.md §2
  * plus the LLM-data-pipeline operators, each as (Spark impl, DuckDB oracle).
  * Every entry carries its oracle.
  *
  * Oracle-matching rules. Each is written once, as a private function
  * below that returns SQL text; the oracle shares no code with the Spark
  * side, only TextOps' MinHash constants and SimilarityQueries' geometry:
  *   - `round4`: a double compared across engines is first rounded half
  *     up to 4 decimals, as Relational.round4 does;
  *   - `dec` and `sumDecSql`: sums of 2-dp (or round4'd) doubles go
  *     through exact decimals on both engines (order-independent), then
  *     back to DOUBLE;
  *   - `hash32Sql`: hashing is md5-based (engine-independent), never the
  *     engines' native hash functions;
  *   - LSH dedup: `shinglesSql` → `minhashChain` → `bandsCte` →
  *     `jaccardPairs` (`verifiedCte` keeps Jaccard ≥ 0.8), and
  *     `componentCtes` for the dup clusters;
  *   - vector search: `querySide` (the 10 query vectors), `kmeansCtes`
  *     (Lloyd rounds on round4'd centroids), `probeCtes` (the IVF probe of
  *     any centroid table), `cosineTopK`, `l2Top5`, `truthCtes` (the
  *     brute-force truth) and `adcCtes` (every PQ LUT and ADC score);
  *   - `events.ts`'s physical parquet type has drifted between rounds
  *     (timestamp[ns], then timestamp[us]); Tables.events normalizes
  *     either to int64 epoch-micros ≡ DuckDB's `epoch_us(ts)` so both
  *     sides agree exactly whatever the generator shipped;
  *   - window ranks are CAST(... AS INT) in SQL to match Spark's
  *     IntegerType row_number;
  *   - every query ends in a fully-deterministic ORDER BY.
  */
object Catalog {

  final case class QuerySpec(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: String)

  // ----------------------------------------------------------- SQL helpers

  /** `x` rounded half up to 4 decimals (Relational.round4). */
  private def round4(x: String) = s"floor($x * 10000 + 0.5) / 10000"

  /** The engine-independent 32-bit hash of `c`: the first 8 hex digits
    * of the md5 of its string form. */
  private def hash32Sql(c: String) = s"('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 8))::BIGINT"

  /** `c` as an exact decimal with `scale` places. */
  private def dec(c: String, scale: Int = 2) = s"CAST($c AS DECIMAL(18,$scale))"

  /** The sum of the decimal `terms`, exact and order-independent on both
    * engines, as DOUBLE. */
  private def sumDecSql(terms: String) = s"CAST(sum($terms) AS DOUBLE)"

  private val revenueSql =
    sumDecSql(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")

  /** A recall ratio: `hits` counted over the group's rows, round4'd. */
  private def recallSql(hits: String) = round4(s"count($hits) * 1.0 / count(*)")

  /** Distinct 3-token shingles of the token list `t` (TextOps.shinglesOf);
    * empty when `t` has fewer than 3 tokens. */
  private val shinglesSql =
    """list_distinct(CASE WHEN len(t) >= 3
      |  THEN list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |  ELSE []::VARCHAR[] END)""".stripMargin

  /** Exact-dedup representatives (TextOps.canonicalDocs): identical docs
    * collapse to the min-id doc per content fingerprint. */
  private val canonCte =
    "canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))"

  /** The token lists of the [[canonCte]] docs. */
  private val canonTokens =
    """SELECT d.doc_id, string_split(d.text, ' ') AS t
      |       FROM documents d JOIN canon ON d.doc_id = canon.doc_id""".stripMargin

  /** `tk$sfx` = the (doc_id, t) rows `tokens` selects and `shx$sfx` =
    * their shingle lists `sh` (TextOps.shingleFrame). */
  private def shingleCtes(sfx: String, tokens: String): String =
    s"""tk$sfx AS ($tokens),
       |shx$sfx AS (SELECT doc_id, $shinglesSql AS sh FROM tk$sfx)""".stripMargin

  private val numHashes = 16
  private val rowsPerBand = 4

  /** The MinHash chain over the docs `tokens` selects, mirroring
    * TextOps.elementHashes and minhashFromHashes: [[shingleCtes]], one md5
    * per shingle → 32-bit base hash, then 16 universal hashes
    * (a_i·h + b_i) mod P, each slot's minimum in column `mh<i>` of
    * `sigs$sfx`. Every CTE name carries `sfx`, so chains compose in one
    * WITH. */
  private def minhashChain(sfx: String, tokens: String): String = {
    val p = graft.operators.TextOps.MinhashP
    val sigCols = (0 until numHashes).map { i =>
      val a = graft.operators.TextOps.minhashA(i)
      val b = graft.operators.TextOps.minhashB(i)
      s"list_min(list_transform(hs, h -> (h * ${a} + ${b}) % ${p})) AS mh$i"
    }.mkString(",\n  ")
    s"""${shingleCtes(sfx, tokens)},
       |hsx$sfx AS (SELECT doc_id, list_transform(sh, x -> ${hash32Sql("x")}) AS hs FROM shx$sfx),
       |sigs$sfx AS (SELECT doc_id,
       |  $sigCols
       |FROM hsx$sfx)""".stripMargin
  }

  /** LSH band keys `bands` over the signatures `sigs`, `rpb` slots per
    * band: md5 of the band's ':'-joined slots (TextOps.bandsFromShingles). */
  private def bandsCte(rpb: Int, bands: String, sigs: String): String = {
    val bandRows = (0 until numHashes / rpb).map { j =>
      val cat = (0 until rpb).map(r => s"mh${j * rpb + r}::VARCHAR")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $j AS band, md5($cat) AS bk FROM $sigs"
    }.mkString("\n  UNION ALL ")
    s"""$bands AS (
       |  $bandRows)""".stripMargin
  }

  /** Same-corpus candidates `cands$sfx` (id1 < id2 sharing a band key) of
    * one band geometry over the shared `sigs` (TextOps.candidatesFromBands);
    * d11 runs two geometries off one signature pass, as the Spark side does. */
  private def bandCandCtes(rpb: Int, sfx: String): String =
    s"""${bandsCte(rpb, s"bands$sfx", "sigs")},
       |cands$sfx AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands$sfx a JOIN bands$sfx b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** Canonical docs → MinHash signatures `sigs`: the head of every
    * same-corpus LSH chain. */
  private val sigCtes: String = s"$canonCte,\n${minhashChain("", canonTokens)}"

  /** [[sigCtes]] plus the default 4-rows-per-band `bands`/`cands`
    * (TextOps.minhashCandidates). */
  private val minhashCtes: String =
    s"$sigCtes,\n${bandCandCtes(rowsPerBand, "")}"

  /** A MinHash band chain for CROSS-corpus use (d9): [[minhashChain]] over
    * `documents WHERE $where` (no canonical collapse: the cross split
    * separates exact dups by construction) and its `bands$sfx`. */
  private def minhashBandCtes(sfx: String, where: String): String =
    s"""${minhashChain(sfx, s"SELECT doc_id, string_split(text, ' ') AS t\n  FROM documents WHERE $where")},
       |${bandsCte(rowsPerBand, s"bands$sfx", s"sigs$sfx")}""".stripMargin

  /** The pairs of `cands` (`id1`, `id2`) with the exact Jaccard `j` of
    * their shingle lists from `shx1` and `shx2` (TextOps.jaccard). */
  private def jaccardPairs(cands: String, id1: String = "id1", id2: String = "id2",
      shx1: String = "shx", shx2: String = "shx"): String =
    s"""SELECT $id1, $id2,
       |    len(list_intersect(a.sh, b.sh))::DOUBLE /
       |      (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh))::DOUBLE) AS j
       |  FROM $cands JOIN $shx1 a ON $id1 = a.doc_id JOIN $shx2 b ON $id2 = b.doc_id""".stripMargin

  /** `name`: the candidates of `cands` whose exact Jaccard is at least 0.8
    * (TextQueries.verifyPairs). */
  private def verifiedCte(name: String, cands: String): String =
    s"$name AS (SELECT id1, id2 FROM (\n  ${jaccardPairs(cands)}) t\n  WHERE j >= 0.8)"

  /** Connected components of the undirected `pairs` (id1, id2): `comp`
    * labels each id with the min id it reaches (a recursive walk, so the
    * query needs WITH RECURSIVE), matching min-label propagation. */
  private def componentCtes(pairs: String): String =
    s"""e AS (SELECT id1, id2 FROM $pairs UNION SELECT id2 AS id1, id1 AS id2 FROM $pairs),
       |walk AS (
       |  SELECT id1 AS id, id1 AS reach FROM e
       |  UNION
       |  SELECT w.id, e.id2 AS reach FROM walk w JOIN e ON w.reach = e.id1),
       |comp AS (SELECT id, min(reach) AS cluster FROM walk GROUP BY id)""".stripMargin

  /** The 10 query vectors (vec_id < 10) with `cols`: the Spark side's
    * query set. */
  private def querySide(cols: String) =
    s"SELECT vec_id AS q_id, $cols FROM embeddings WHERE vec_id < 10"

  /** `q`: each query's vector `qe` and its norm `q_norm`. */
  private val qCte = {
    val norm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    s"q AS (${querySide(s"embedding::DOUBLE[] AS qe,\n    $norm AS q_norm")})"
  }

  /** `v$sfx`: the vectors `vecSql` of `src`, with their squared norms `dxx`. */
  private def vecCte(sfx: String = "", vecSql: String = "embedding::DOUBLE[]",
      src: String = "embeddings"): String =
    s"""v$sfx AS (SELECT vec_id, $vecSql AS v,
       |    list_dot_product($vecSql, $vecSql) AS dxx
       |  FROM $src)""".stripMargin

  /** The IVF probe (Similarity.probeCells): [[qCte]], then each query ranks
    * the cells of `cent` (cluster, c) by the cosine to their centroid (desc,
    * cluster asc) and `probed` keeps its first `nprobe` cells as `q_cell`,
    * with their rank `prank`. */
  private def probeCtes(cent: String, nprobe: Int): String =
    s"""$qCte,
       |cn AS (SELECT cluster, c, sqrt(list_dot_product(c, c)) AS cent_norm
       |  FROM $cent),
       |pr AS (SELECT q_id, qe, q_norm, cluster,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY list_dot_product(qe, c) / (q_norm * cent_norm) DESC, cluster) AS prank
       |  FROM q, cn),
       |probed AS (SELECT q_id, qe, q_norm, cluster AS q_cell, prank FROM pr WHERE prank <= $nprobe)""".stripMargin

  /** `s`: each [[probeCtes]] query scored by cosine against the vectors of
    * `cands` (n_id, ne, n_cell, n_norm) in its probed cells, itself
    * excluded. */
  private def probedCosineCte(cands: String): String =
    s"""s AS (SELECT q_id, n_id, prank,
       |    list_dot_product(qe, ne) / (q_norm * n_norm) AS cos
       |  FROM probed JOIN $cands ON q_cell = n_cell AND q_id <> n_id)""".stripMargin

  /** The cosine top 5 per query of the scored pairs `s` (q_id, n_id, cos):
    * INT rank by (cos desc, n_id asc), cos round4'd (Similarity.cosineTopK). */
  private def cosineTopK(s: String): String =
    s"""SELECT q_id, n_id, rank, cos FROM (SELECT q_id, n_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank,
       |    ${round4("cos")} AS cos
       |  FROM $s) t WHERE rank <= 5""".stripMargin

  /** The squared-L2 top 5 (q_id, n_id) per query of the pairs `d2`
    * (q_id, n_id, d2), by (d2 asc, n_id asc). */
  private def l2Top5(d2: String): String =
    s"""SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id) AS rank
       |  FROM $d2) t WHERE rank <= 5""".stripMargin

  /** `truth`: the brute-force top 5 (q_id, n_id) of each query in `q` over
    * the corpus `v` ([[vecCte]]), itself excluded: by cosine when `cosine`,
    * else by squared L2 (what ADC approximates). */
  private def truthCtes(cosine: Boolean): String = {
    val (score, top) =
      if (cosine) ("list_dot_product(qe, v.v) / (q_norm * sqrt(v.dxx)) AS cos", cosineTopK("bs"))
      else ("list_dot_product(qe, qe) - 2 * list_dot_product(qe, v.v) + v.dxx AS d2", l2Top5("bs"))
    s"""bs AS (SELECT q.q_id, v.vec_id AS n_id,
       |    $score
       |  FROM q, v WHERE q.q_id <> v.vec_id),
       |truth AS (SELECT q_id, n_id FROM (
       |  $top) tt)""".stripMargin
  }

  /** Squared L2 distance of a `v` ([[vecCte]]) row to the centroid `c.c`. */
  private val centroidSqSql =
    "v.dxx - 2 * list_dot_product(v.v, c.c) + list_dot_product(c.c, c.c)"

  /** Unrolled Lloyd-iteration CTE chain mirroring
    * [[graft.operators.Similarity.kmeans]]: c0 = round4'd first-k vectors;
    * per round r, a_r = argmin assignment against c_(r-1) (the same
    * ‖x‖² − 2·x·c + ‖c‖² expression with the same cluster-asc tie-break)
    * and m_r/c_r = round4'd per-(cluster, dim) means; af = the final
    * assignment carrying its squared distance. Centroids are rounded
    * before any distance math on BOTH engines, so every ranking compares
    * identical doubles. `sfx` suffixes every CTE name so independent
    * chains compose in one WITH (the PQ oracle runs one chain per
    * subspace), `vecSql` is the vector expression the chain trains on
    * (full embedding by default; a list slice per PQ subspace), `src` the
    * relation it reads (a residual CTE for the e16 chains). */
  private def kmeansCtes(
      k: Int, rounds: Int, dims: Int,
      sfx: String = "", vecSql: String = "embedding::DOUBLE[]",
      src: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb ++= s"""${vecCte(sfx, vecSql, src)},
      |c0$sfx AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
      |    list_transform(v, x -> ${round4("x")}) AS c
      |  FROM (SELECT * FROM v$sfx ORDER BY vec_id LIMIT $k))""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |a$r$sfx AS (SELECT vec_id, v, dxx, cluster FROM (
        |    SELECT v.vec_id, v.v, v.dxx, c.cluster,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        $centroidSqSql ASC,
        |        c.cluster ASC) AS rk
        |    FROM v$sfx v, c${r - 1}$sfx c) t WHERE rk = 1),
        |m$r$sfx AS (SELECT cluster, dim, ${round4("avg(v[dim])")} AS cd
        |  FROM a$r$sfx, generate_series(1, $dims) AS t(dim) GROUP BY cluster, dim),
        |c$r$sfx AS (SELECT cluster, list(cd ORDER BY dim) AS c FROM m$r$sfx GROUP BY cluster)""".stripMargin
    }
    sb ++= s""",
      |af$sfx AS (SELECT vec_id, cluster, sq FROM (
      |    SELECT v.vec_id, c.cluster,
      |      $centroidSqSql AS sq,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        $centroidSqSql ASC,
      |        c.cluster ASC) AS rk
      |    FROM v$sfx v, c$rounds$sfx c) t WHERE rk = 1)""".stripMargin
    sb.toString
  }

  private val kmCtes = kmeansCtes(
    SimilarityQueries.KmeansK, SimilarityQueries.KmeansRounds, 64)

  /** Unrolled power-iteration CTE chain mirroring
    * [[graft.operators.Similarity.pcaTrainAxis]]: round4'd per-dim mean,
    * centered vectors, uniform 1/8 start axis; per round r the
    * covariance-action aggregate w = avg(x·(x·ax)) per dim (round4'd)
    * then the normalized round4'd axis. Quantization before every reuse
    * means both engines iterate identical doubles — same contract as
    * [[kmeansCtes]]. */
  private def pcaPowerCtes(rounds: Int, dims: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""pv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pmu AS (SELECT list(m ORDER BY dim) AS mu FROM (
      |    SELECT dim, ${round4("avg(v[dim])")} AS m
      |    FROM pv, generate_series(1, $dims) AS t(dim) GROUP BY dim)),
      |px AS (SELECT vec_id,
      |    list_transform(generate_series(1, $dims), i -> v[i] - mu[i]) AS x
      |  FROM pv, pmu),
      |pax0 AS (SELECT list_transform(generate_series(1, $dims), i -> 0.125::DOUBLE) AS ax)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |pw$r AS (SELECT list(wd ORDER BY dim) AS w FROM (
        |    SELECT dim, ${round4("avg(x[dim] * s)")} AS wd
        |    FROM (SELECT x, list_dot_product(x, ax) AS s FROM px, pax${r - 1}),
        |      generate_series(1, $dims) AS t(dim)
        |    GROUP BY dim)),
        |pax$r AS (SELECT list_transform(w,
        |    wj -> ${round4("wj / sqrt(list_dot_product(w, w))")}) AS ax
        |  FROM pw$r)""".stripMargin
    }
    sb ++= s""",
      |pp AS (SELECT vec_id,
      |    ${round4("list_dot_product(x, ax)")} AS proj,
      |    ${round4("list_dot_product(x, x)")} AS xx
      |  FROM px, pax$rounds)""".stripMargin
    sb.toString
  }

  /** Shared BPE training-chain CTEs (t21 training, t22 application):
    * t0 = the raw (doc_id, token) stream; per round i, c_i counts adjacent
    * 2-char pairs over t_(i-1), m_i is the argmax merge (cnt desc, pair
    * asc), and t_i rewrites the stream with that pair collapsed to the
    * round's U+E000+i−1 sentinel. doc_id rides through every rewrite so
    * the application gate can re-aggregate per document; the training
    * gate's counts simply ignore it. */
  private val BpeRounds = 3
  private val bpeCtes: String = {
    val counts = (1 to BpeRounds).map { i =>
      s"""c$i AS (SELECT pair, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, length(w) - 1),
         |      i -> substr(w, i, 2))) AS pair
         |    FROM t${i - 1} WHERE length(w) >= 2) GROUP BY pair),
         |m$i AS (SELECT pair, cnt FROM c$i ORDER BY cnt DESC, pair LIMIT 1)"""
        .stripMargin
    }
    val rewrites = (1 to BpeRounds).map { i =>
      s"""t$i AS (SELECT doc_id, replace(w, (SELECT pair FROM m$i),
         |  chr(${0xE000 + i - 1})) AS w FROM t${i - 1})""".stripMargin
    }
    val ctes = (1 to BpeRounds)
      .flatMap(i => Seq(counts(i - 1), rewrites(i - 1))).mkString(",\n")
    s"""t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |$ctes""".stripMargin
  }

  /** One independent Lloyd chain per PQ subspace, trained on that
    * subspace's list slice of the embedding. */
  private val pqCtes: String = {
    val sub = 64 / SimilarityQueries.PqM
    (0 until SimilarityQueries.PqM).map { s =>
      kmeansCtes(SimilarityQueries.PqK, SimilarityQueries.PqRounds, sub,
        sfx = s"_p$s", vecSql = s"(embedding::DOUBLE[])[${s * sub + 1}:${(s + 1) * sub}]")
    }.mkString(",\n")
  }

  /** After [[kmCtes]]: `resid` = each vector minus its coarse centroid,
    * and one Lloyd chain per PQ subspace of the residuals (suffix `_r<s>`). */
  private val residPqCtes: String = {
    val sub = 64 / SimilarityQueries.PqM
    val chains = (0 until SimilarityQueries.PqM).map { s =>
      kmeansCtes(SimilarityQueries.PqK, SimilarityQueries.PqRounds, sub,
        sfx = s"_r$s", vecSql = s"(embedding)[${s * sub + 1}:${(s + 1) * sub}]",
        src = "resid")
    }.mkString(",\n")
    s"""resid AS (SELECT v.vec_id,
       |    list_transform(generate_series(CAST(1 AS BIGINT), CAST(64 AS BIGINT)),
       |      i -> v.v[i] - c.c[i]) AS embedding
       |  FROM v JOIN af USING (vec_id) JOIN c${SimilarityQueries.KmeansRounds} c ON af.cluster = c.cluster),
       |$chains""".stripMargin
  }

  /** Every query and every corpus vector in one cell: an exhaustive ADC
    * search. */
  private val oneCellQueries = "(SELECT q_id, 0 AS q_cell, qe FROM q) q"
  private val oneCell = "SELECT vec_id, 0 AS cell FROM embeddings"

  /** Each corpus vector in its [[kmCtes]] coarse cell. */
  private val coarseCells = "SELECT vec_id, cluster AS cell FROM af"

  /** The ADC search over `m` PQ chains, chain s's CTEs suffixed `chain(s)`
    * (Similarity.adcTable and adcTopK): `lut$tag` holds, per query, cell,
    * subspace and codeword, the round4'd squared L2 from the query's
    * slice to the codeword as DECIMAL(18,4); each corpus vector in a cell
    * the query holds is scored by the exact sum of its codes' parts and
    * ranked (adc asc, n_id asc) in `r$tag`. `queries` is a FROM item of
    * (q_id, q_cell, qe); `cells` selects (vec_id, cell). */
  private def adcCtes(tag: String, m: Int, chain: Int => String, queries: String,
      cells: String): String = {
    val sub = 64 / m
    def union(part: Int => String) = (0 until m).map(part).mkString("\n  UNION ALL ")
    val books = union(s =>
      s"SELECT $s AS sub, cluster, c FROM c${SimilarityQueries.PqRounds}${chain(s)}")
    val qs = union(s =>
      s"SELECT q_id, q_cell, $s AS sub, qe[${s * sub + 1}:${(s + 1) * sub}] AS qe FROM $queries")
    val codes = union(s => s"SELECT vec_id, $s AS sub, cluster AS code FROM af${chain(s)}")
    val part = round4("(list_dot_product(qe, qe) - 2 * list_dot_product(qe, c)\n      + list_dot_product(c, c))")
    s"""books$tag AS (
       |  $books),
       |qs$tag AS (
       |  $qs),
       |lut$tag AS (SELECT q_id, q_cell, sub, cluster AS code,
       |    ${dec(part, 4)} AS part
       |  FROM qs$tag JOIN books$tag USING (sub)),
       |codes$tag AS (SELECT cd.vec_id, cl.cell, cd.sub, cd.code FROM (
       |  $codes) cd
       |  JOIN ($cells) cl ON cd.vec_id = cl.vec_id),
       |sc$tag AS (SELECT l.q_id, cd.vec_id AS n_id, ${sumDecSql("l.part")} AS adc
       |  FROM codes$tag cd
       |  JOIN lut$tag l ON cd.cell = l.q_cell AND cd.sub = l.sub AND cd.code = l.code
       |  WHERE l.q_id <> cd.vec_id GROUP BY 1, 2),
       |r$tag AS (SELECT q_id, n_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS INT) AS rank
       |  FROM sc$tag)""".stripMargin
  }

  /** Shared WITH body for the full-IVFADC oracles (e17 search, e18
    * recall, e22 re-rank): coarse chain → residual chains → 2-cell probe →
    * each query's residual `qr` per probed cell → [[adcCtes]] keyed on the
    * coarse cell, ending at the ranked `r`. `q` and `v` stay visible for
    * the brute-force truth. */
  private val ivfadcCtes: String = {
    val kr = SimilarityQueries.KmeansRounds
    s"""$kmCtes,
      |$residPqCtes,
      |${probeCtes(s"c$kr", 2)},
      |qr AS (SELECT p.q_id, p.q_cell,
      |    list_transform(generate_series(CAST(1 AS BIGINT), CAST(64 AS BIGINT)),
      |      i -> p.qe[i] - c.c[i]) AS qe
      |  FROM probed p JOIN c$kr c ON p.q_cell = c.cluster),
      |${adcCtes("", SimilarityQueries.PqM, s => s"_r$s", "qr", coarseCells)}""".stripMargin
  }

  private val pqSelect: String =
    (0 until SimilarityQueries.PqM).map { s =>
      s"""SELECT vec_id, $s AS sub, cluster AS code,
         |  ${round4("sq")} AS sq FROM af_p$s""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Full IVF-PQ search oracle: the coarse chain probes 2 cells per query
    * and [[adcCtes]] scores the raw query against the PQ chains' codes in
    * those cells. Shared by e15 (in-memory search) and e21 (same search
    * from a parquet-round-tripped model — the store must be invisible to
    * the result, so the oracle is identical). */
  private val ivfPqSearchOracleSql: String =
    s"""WITH $kmCtes,
      |$pqCtes,
      |${probeCtes(s"c${SimilarityQueries.KmeansRounds}", 2)},
      |${adcCtes("", SimilarityQueries.PqM, s => s"_p$s", "probed", coarseCells)}
      |SELECT q_id, n_id, rank, adc FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** After [[kmCtes]], the learned IVF scan: [[probeCtes]] over the
    * trained centroids, then `s` scores each query against every vector
    * in its `nprobe` probed cells. */
  private def learnedScanCtes(nprobe: Int): String =
    s"""${probeCtes(s"c${SimilarityQueries.KmeansRounds}", nprobe)},
       |cc AS (SELECT af.vec_id AS n_id, v.v AS ne, af.cluster AS n_cell,
       |    sqrt(v.dxx) AS n_norm
       |  FROM af JOIN v ON af.vec_id = v.vec_id),
       |${probedCosineCte("cc")}""".stripMargin

  /** Recall@5 per query of `approx` (q_id, n_id) against [[truthCtes]]'
    * `truth` (e12, e18). */
  private val recallAt5Sql =
    s"""SELECT t.q_id, count(*) AS n_truth, count(a.n_id) AS n_hit,
       |  ${recallSql("a.n_id")} AS recall
       |FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.n_id = a.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  /** `cm`: the round4'd per-(label, dim) means of the embeddings. */
  private val labelMeansCtes =
    s"""u AS (SELECT label, i AS dim, embedding[i]::DOUBLE AS x
       |        FROM embeddings, generate_series(1, 64) AS t(i)),
       |cm AS (SELECT label, dim, ${round4("avg(x)")} AS c
       |       FROM u GROUP BY label, dim)""".stripMargin

  /** t3's quality blend of the token list `t` (TextOps.qualityScore):
    * the mean of length saturation, distinct ratio and non-stopword ratio,
    * round4'd. */
  private val qualitySql = round4(
    """(least(len(t)::DOUBLE / 100.0, 1.0)
      |    + len(list_distinct(t))::DOUBLE / len(t)::DOUBLE
      |    + (len(t)::DOUBLE - len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE) / len(t)::DOUBLE
      |    ) / 3.0""".stripMargin)

  /** A doc's mean log-prob: its round4'd log-probs `lp`, weighted by the
    * counts `n`, accumulated as exact decimals, the mean round4'd. */
  private def avgLogprobSql(n: String) =
    round4(s"${sumDecSql(s"${dec(n, 4)} * ${dec("lp", 4)}")}\n    / sum($n)")

  /** The Gopher rule stats (TextOps.gopherRules) of the docs in `t`
    * (doc_id, lang, text, tk = tokens): `f` holds the token count, the
    * stopword hits, the round4'd mean word length `mwl` (chars sans spaces
    * per token) and the round4'd duplicate 2-gram fraction `dup2_frac`. */
  private val gopherCtes =
    s"""b AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS chars,
       |    CAST(len(list_filter(tk,
       |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS sw_hits,
       |    list_transform(generate_series(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i + 1]) AS g2
       |  FROM t),
       |c AS (SELECT doc_id, lang, n_tokens, sw_hits,
       |    ${round4("chars * 1.0 / n_tokens")} AS mwl,
       |    len(g2) AS n2, len(list_distinct(g2)) AS d2 FROM b),
       |f AS (SELECT doc_id, lang, n_tokens, sw_hits, mwl,
       |    CASE WHEN n2 > 0
       |      THEN ${round4("(1 - d2 * 1.0 / n2)")}
       |      ELSE 0.0 END AS dup2_frac FROM c)""".stripMargin

  /** A doc of [[gopherCtes]]'s `f` passes every Gopher rule. */
  private val gopherKeepSql =
    "n_tokens >= 40 AND mwl >= 3.0 AND mwl <= 5.0\n    AND dup2_frac <= 0.05 AND sw_hits >= 2"

  /** Temperature-scaled (alpha = 0.5) keep rates per lang of `docs`
    * (TextOps.temperatureMix): round4'd sqrt(count) weights as decimals;
    * `rt.rate` is a lang's weight share in 1/10000ths, floored. */
  private def temperatureCtes(docs: String): String =
    s"""ln_ AS (SELECT lang, count(*) AS n_docs FROM $docs GROUP BY lang),
       |wgt AS (SELECT lang,
       |    ${dec(round4("sqrt(n_docs)"), 4)} AS sw
       |  FROM ln_),
       |tot AS (SELECT sum(sw) AS tot_sw FROM wgt),
       |rt AS (SELECT lang,
       |    CAST(floor(CAST(sw AS DOUBLE) / CAST(tot_sw AS DOUBLE) * 10000) AS BIGINT) AS rate
       |  FROM wgt, tot)""".stripMargin

  /** Context-window chunks (TextOps.chunkTokens) of the docs in `tokens`
    * (doc_id, t = tokens, n = len(t)): 32-token windows advancing by 24,
    * tail-covering; `sl` holds (doc_id, chunk_no, start_tok, ckt). */
  private def chunkCtes(tokens: String): String =
    s"""ck0 AS (SELECT doc_id, t, n,
       |    unnest(generate_series(0, CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS i
       |  FROM $tokens),
       |sl AS (SELECT doc_id, CAST(i AS INT) AS chunk_no, i * 24 + 1 AS start_tok,
       |    list_transform(generate_series(i * 24 + 1, least(i * 24 + 32, n)), j -> t[j]) AS ckt
       |  FROM ck0)""".stripMargin

  /** Sequence packing of [[chunkCtes]]'s chunks, each doc's lang from
    * `langs` (doc_id, lang): `cw` carries each chunk's cumulative token
    * count within (lang, shard = doc_id % 8) in (doc_id, chunk_no) order. */
  private def packCtes(langs: String): String =
    s"""j AS (SELECT sl.doc_id, sl.chunk_no, CAST(len(sl.ckt) AS BIGINT) AS n_tokens, d.lang,
       |    CAST(sl.doc_id % 8 AS INT) AS shard
       |  FROM sl JOIN $langs d ON sl.doc_id = d.doc_id),
       |cw AS (SELECT lang, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id, chunk_no
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM j)""".stripMargin

  /** Every doc's tokens as [[chunkCtes]] reads them. */
  private val docTokensCte =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS t,
      |    len(string_split(text, ' ')) AS n FROM documents)""".stripMargin

  /** x12/x15's point cloud: md5-hashed (partkey, suppkey) on a 64×64 grid
    * (`pts`) and each point's 16-bit Morton code `z` (`pz`), replaying the
    * per-bit interleave definition. */
  private val zPointsCtes =
    s"""pts AS (SELECT
       |    ${hash32Sql("l_partkey")} % 64 AS px,
       |    ${hash32Sql("l_suppkey")} % 64 AS sx
       |  FROM lineitem),
       |pz AS (SELECT px, sx, CAST(list_sum(list_transform(generate_series(0, 15),
       |    i -> (((px >> i) & 1) << (2*i)) + (((sx >> i) & 1) << (2*i+1)))) AS BIGINT) AS z
       |  FROM pts)""".stripMargin

  /** s3/s5's as-of sides: `v` = the last view per (user, µs) and `c` =
    * the clicks. */
  private val asofSidesCtes =
    """v AS (SELECT user_id, epoch_us(ts) AS t, max(event_id) AS view_event_id
      |        FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts)),
      |c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
      |      FROM events WHERE event_type = 'click')""".stripMargin

  /** x11/x17's nation trade graph: customer nation → supplier nation,
    * weighted by line count. */
  private val tradeEdgesSql =
    """SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2""".stripMargin

  /** The top-3 parts per customer by line count (cnt desc, partkey asc):
    * a1's window ranking, which a11's bounded top-k aggregate must
    * reproduce ties included. */
  private val top3PartsSql =
    """SELECT o_custkey, l_partkey, cnt, rank FROM (
      |  SELECT o_custkey, l_partkey, cnt,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY cnt DESC, l_partkey) AS INT) AS rank
      |  FROM (SELECT o_custkey, l_partkey, count(*) AS cnt
      |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |        GROUP BY o_custkey, l_partkey) c) r
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin


  // ---------------------------------------------------------------- specs

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", RelationalQueries.q1PricingSummary,
      s"""SELECT l_returnflag, l_linestatus,
        |  ${sumDecSql(dec("l_quantity"))} AS sum_qty,
        |  ${sumDecSql(dec("l_extendedprice"))} AS sum_base_price,
        |  $revenueSql AS sum_disc_price,
        |  ${sumDecSql(dec("l_quantity"))} / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("s2_latest_by_key", RelationalQueries.s2LatestByKey,
      """SELECT user_id, event_id, event_type, value, ts_us FROM (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    QuerySpec("p4_filter_dateband", RelationalQueries.p4FilterDateband,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin),

    QuerySpec("p5_merge_union", RelationalQueries.p5MergeUnion,
      s"""SELECT event_type, count(*) AS n, ${sumDecSql(dec("value"))} AS sum_value
        |FROM (SELECT event_type, value FROM events WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT event_type, value FROM events WHERE event_type = 'view') u
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("p6_branch_route", RelationalQueries.p6BranchRoute,
      s"""SELECT route, event_type, count(*) AS n, ${sumDecSql(dec("value"))} AS sum_value
        |FROM (SELECT CASE WHEN value >= 100 THEN 'HIGH'
        |                  WHEN value >= 20 THEN 'MID'
        |                  ELSE 'LOW' END AS route, event_type, value FROM events) t
        |GROUP BY route, event_type ORDER BY route, event_type""".stripMargin),

    QuerySpec("p7_stringify", RelationalQueries.p7Stringify,
      """SELECT c_custkey,
        |  c_name || ' (' || c_mktsegment || ') [' || n_name || ']' AS line
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("p2_rekey_roundtrip", RelationalQueries.p2RekeyRoundtrip,
      """SELECT c_custkey,
        |  n_name || '-' || CAST(c_custkey AS VARCHAR) AS composite_key,
        |  CAST(regexp_extract(n_name || '-' || CAST(c_custkey AS VARCHAR), '([0-9]+)$', 1) AS BIGINT) AS parsed_id
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("j_multiway_revenue", RelationalQueries.jMultiwayRevenue,
      s"""SELECT r_name, n_name, $revenueSql AS revenue, count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    QuerySpec("a4_out_of_nation", RelationalQueries.a4OutOfNation,
      s"""SELECT s_suppkey, count(*) AS out_cnt, $revenueSql AS out_revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey <> s_nationkey
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),

    QuerySpec("a1_top3_parts_per_customer", RelationalQueries.a1Top3PartsPerCustomer,
      top3PartsSql),

    QuerySpec("a5_top3_types_per_nation", RelationalQueries.a5Top3TypesPerNation,
      """SELECT s_nationkey, p_type, cnt, rank FROM (
        |  SELECT s_nationkey, p_type, cnt,
        |    CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY cnt DESC, p_type) AS INT) AS rank
        |  FROM (SELECT s_nationkey, p_type, count(*) AS cnt
        |        FROM lineitem
        |        JOIN part ON l_partkey = p_partkey
        |        JOIN supplier ON l_suppkey = s_suppkey
        |        GROUP BY s_nationkey, p_type) c) r
        |WHERE rank <= 3 ORDER BY s_nationkey, rank""".stripMargin),

    // a1's result via the bounded top-k AGGREGATE (TopKByCount): identical
    // SQL oracle — the aggregate must reproduce the window's ranking
    // including ties, or the hash gate fails
    QuerySpec("a11_topk_agg", RelationalQueries.a11TopkAgg,
      top3PartsSql),

    // fuzzy entity matching: dedupe to the name dictionary, block on the
    // first token, verify with exact Levenshtein <= 3 — identical integer
    // edit-distance semantics on both engines
    QuerySpec("x7_fuzzy_match", RelationalQueries.x7FuzzyMatch,
      """WITH n AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name),
        |b AS (SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS blk FROM n)
        |SELECT a.p_name AS name1, c.p_name AS name2,
        |  levenshtein(a.p_name, c.p_name) AS dist,
        |  a.n_parts AS parts1, c.n_parts AS parts2
        |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
        |WHERE levenshtein(a.p_name, c.p_name) <= 3
        |ORDER BY name1, name2""".stripMargin),

    QuerySpec("a2_capacity_ledger", RelationalQueries.a2CapacityLedger,
      """SELECT user_id, event_id, seq,
        |  CASE WHEN seq <= 5 THEN 'CONFIRMED' ELSE 'REJECTED' END AS status,
        |  5 - seq AS remaining
        |FROM (SELECT user_id, event_id,
        |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS INT) AS seq
        |      FROM events) t
        |ORDER BY user_id, seq""".stripMargin),

    QuerySpec("t2_top10_customers", RelationalQueries.t2Top10Customers,
      s"""SELECT o_custkey, ${sumDecSql(dec("o_totalprice"))} AS rev, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY rev DESC, o_custkey LIMIT 10""".stripMargin),

    QuerySpec("a6_distinct_users", RelationalQueries.a6DistinctUsers,
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // windowed trending top-k: per hourly window the top-3 event types by
    // count through the bounded TopKByCount aggregate; oracle ranks with a
    // row_number window, (cnt desc, type asc) ties
    QuerySpec("w4_trending_topk", RelationalQueries.w4TrendingTopk,
      """WITH c AS (SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
        |    event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT hour_bucket, event_type, cnt,
        |    CAST(row_number() OVER (PARTITION BY hour_bucket
        |      ORDER BY cnt DESC, event_type) AS INT) AS rank
        |  FROM c)
        |SELECT hour_bucket, event_type, cnt, rank FROM r WHERE rank <= 3
        |ORDER BY hour_bucket, rank""".stripMargin),

    QuerySpec("w1_hourly_rollup", RelationalQueries.w1HourlyRollup,
      s"""SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |  count(*) AS n, ${sumDecSql(dec("value"))} AS sum_value
        |FROM events GROUP BY hour_bucket, event_type
        |ORDER BY hour_bucket, event_type""".stripMargin),

    // hopping windows: event at hop index h belongs to windows starting at
    // h and h-1 (1 h length / 30 min hop = 2 covering windows per event)
    QuerySpec("w3_hopping_rollup", RelationalQueries.w3HoppingRollup,
      s"""WITH e AS (SELECT epoch_us(ts) // 1800000000 AS h, event_type, value FROM events)
        |SELECT (h - k) * 1800000000 AS win_start_us, event_type,
        |  count(*) AS n, ${sumDecSql(dec("value"))} AS sum_value
        |FROM e, (VALUES (0), (1)) AS t(k)
        |GROUP BY win_start_us, event_type
        |ORDER BY win_start_us, event_type""".stripMargin),

    QuerySpec("s3_asof_enrich", RelationalQueries.s3AsofEnrich,
      s"""WITH $asofSidesCtes
        |SELECT c.user_id, c.event_id, c.ts_us,
        |  v.view_event_id, v.t AS view_ts_us, c.ts_us - v.t AS lag_us
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts_us >= v.t
        |ORDER BY c.user_id, c.event_id""".stripMargin),

    QuerySpec("s5_asof_forward", RelationalQueries.s5AsofForward,
      s"""WITH $asofSidesCtes
        |SELECT c.user_id, c.event_id, c.ts_us,
        |  v.view_event_id, v.t AS view_ts_us, v.t - c.ts_us AS lead_us
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts_us <= v.t
        |ORDER BY c.user_id, c.event_id""".stripMargin),

    // SCD2 history: every record versioned [own ts, next ts) per key; the
    // open-ended current version carries a NULL valid_to
    QuerySpec("s6_scd2_intervals", RelationalQueries.s6Scd2Intervals,
      """SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER w AS valid_to_us,
        |  (lead(epoch_us(ts)) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin),

    QuerySpec("s4_range_pairs", RelationalQueries.s4RangePairs,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events)
        |SELECT a.user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.t > a.t AND b.t <= a.t + 3600000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),

    QuerySpec("w2_sessionize", RelationalQueries.w2Sessionize,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
        |f AS (SELECT user_id, event_id, t, value,
        |  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 14400000000
        |       THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |g AS (SELECT user_id, t, value,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS INT) AS session_no
        |  FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(t) AS start_us, max(t) AS end_us, ${sumDecSql(dec("value"))} AS sum_value
        |FROM g GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin),

    QuerySpec("r1_rollup_revenue", RelationalQueries.r1RollupRevenue,
      s"""SELECT CAST(GROUPING(r_name, n_name) AS INT) AS gid,
        |  coalesce(r_name, 'ALL') AS region_name,
        |  coalesce(n_name, 'ALL') AS nation_name,
        |  $revenueSql AS revenue, count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY gid, region_name, nation_name""".stripMargin),

    QuerySpec("r2_cube_orders", RelationalQueries.r2CubeOrders,
      s"""SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, ${sumDecSql(dec("o_totalprice"))} AS rev
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin),

    QuerySpec("j2_anti_customers", RelationalQueries.j2AntiCustomers,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("j3_semi_segment", RelationalQueries.j3SemiSegment,
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("x1_json_extract", RelationalQueries.x1JsonExtract,
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // The HLL estimate itself is engine-specific, so the gated columns are
    // the exact count plus a 5%-relative-error assertion on the sketch
    // (approx_ok), pinned to TRUE — estimate drift flips the boolean and
    // fails the hash
    QuerySpec("a8_approx_distinct", RelationalQueries.a8ApproxDistinct,
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Z-order layout: morton z-interval of a 2-D rectangle is a superset
    // of the rectangle (monotonicity), EXACT for an aligned power-of-two
    // square; oracle replays the per-bit interleave definition, pinning
    // the codegen mask-spread against it
    QuerySpec("x12_zorder_layout", RelationalQueries.x12ZorderLayout,
      s"""WITH $zPointsCtes,
        |rects AS (
        |  SELECT 'aligned_quadrant' AS rect, 16::BIGINT AS xlo, 31::BIGINT AS xhi,
        |    16::BIGINT AS ylo, 31::BIGINT AS yhi, TRUE AS aligned
        |  UNION ALL SELECT 'unaligned_rect', 5::BIGINT, 40::BIGINT, 9::BIGINT, 50::BIGINT, FALSE),
        |rz AS (SELECT rect, xlo, xhi, ylo, yhi, aligned,
        |    CAST(list_sum(list_transform(generate_series(0, 15),
        |      i -> (((xlo >> i) & 1) << (2*i)) + (((ylo >> i) & 1) << (2*i+1)))) AS BIGINT) AS zlo,
        |    CAST(list_sum(list_transform(generate_series(0, 15),
        |      i -> (((xhi >> i) & 1) << (2*i)) + (((yhi >> i) & 1) << (2*i+1)))) AS BIGINT) AS zhi
        |  FROM rects),
        |agg AS (SELECT rect, aligned,
        |    CAST(sum(CASE WHEN px BETWEEN xlo AND xhi AND sx BETWEEN ylo AND yhi
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_rect,
        |    CAST(sum(CASE WHEN z BETWEEN zlo AND zhi THEN 1 ELSE 0 END) AS BIGINT) AS n_zrange
        |  FROM pz CROSS JOIN rz GROUP BY rect, aligned)
        |SELECT rect, n_rect, n_zrange,
        |  n_rect <= n_zrange AS superset_ok,
        |  (NOT aligned) OR (n_rect = n_zrange) AS exact_ok,
        |  ${round4("n_rect * 1.0 / n_zrange")} AS efficiency
        |FROM agg ORDER BY rect""".stripMargin),

    // zone-map pruning: the same point cloud laid out by z-order vs a
    // single-column sort into 64 "files" (ntile), per-file min/max zone
    // maps, exact files-touched / rows-scanned under the standard overlap
    // test + the soundness boolean (no match in a pruned file)
    QuerySpec("x15_zonemap_prune", RelationalQueries.x15ZonemapPrune,
      s"""WITH $zPointsCtes,
        |bk AS (SELECT px, sx,
        |    ntile(64) OVER (ORDER BY z) AS bz,
        |    ntile(64) OVER (ORDER BY px, sx) AS bx
        |  FROM pz),
        |lay AS (SELECT 'zorder' AS layout, bz AS bucket, px, sx FROM bk
        |  UNION ALL SELECT 'single_col', bx, px, sx FROM bk),
        |rects AS (
        |  SELECT 'aligned_quadrant' AS rect, 16::BIGINT AS xlo, 31::BIGINT AS xhi,
        |    16::BIGINT AS ylo, 31::BIGINT AS yhi
        |  UNION ALL SELECT 'unaligned_rect', 5::BIGINT, 40::BIGINT, 9::BIGINT, 50::BIGINT),
        |pb AS (SELECT layout, rect, bucket, xlo, xhi, ylo, yhi,
        |    min(px) AS min_px, max(px) AS max_px,
        |    min(sx) AS min_sx, max(sx) AS max_sx,
        |    count(*) AS n_rows,
        |    sum(CASE WHEN px BETWEEN xlo AND xhi AND sx BETWEEN ylo AND yhi
        |      THEN 1 ELSE 0 END) AS n_match
        |  FROM lay CROSS JOIN rects GROUP BY 1, 2, 3, 4, 5, 6, 7),
        |t AS (SELECT *, (max_px >= xlo AND min_px <= xhi AND
        |    max_sx >= ylo AND min_sx <= yhi) AS touched FROM pb)
        |SELECT layout, rect, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
        |  CAST(sum(CASE WHEN touched THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(n_match) AS BIGINT) AS n_match,
        |  sum(CASE WHEN NOT touched THEN n_match ELSE 0 END) = 0 AS sound_ok
        |FROM t GROUP BY layout, rect ORDER BY layout, rect""".stripMargin),

    // Markov transition matrix: per-user event paths ordered by
    // (ts, event_id), adjacent-pair transition counts, row-normalized
    // P(dst|src) — tie-break makes same-timestamp paths deterministic
    QuerySpec("x13_markov_transitions", RelationalQueries.x13MarkovTransitions,
      s"""WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT event_type AS src, nxt AS dst, count(*) AS n_trans
        |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, CAST(sum(n_trans) AS BIGINT) AS n_src FROM tr GROUP BY src)
        |SELECT tr.src, tr.dst, tr.n_trans, tot.n_src,
        |  ${round4("tr.n_trans * 1.0 / tot.n_src")} AS prob
        |FROM tr JOIN tot ON tr.src = tot.src
        |ORDER BY tr.src, tr.dst""".stripMargin),

    // triangle census: co-purchase edges (same order, >= 2 co-occurrences),
    // exact triangles under degree-ordered orientation, global clustering
    // coefficient — the oracle replays orientation and wedge join verbatim
    QuerySpec("x14_triangles", RelationalQueries.x14Triangles,
      s"""WITH e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dg AS (SELECT n, count(*) AS deg FROM
        |  (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY n),
        |e AS (SELECT u, v, du.deg AS du, dv.deg AS dv
        |  FROM e0 JOIN dg du ON e0.u = du.n JOIN dg dv ON e0.v = dv.n),
        |o AS (SELECT
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t,
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt
        |  FROM e),
        |w AS (SELECT o1.t AS t1, o2.t AS t2 FROM o o1 JOIN o o2
        |  ON o1.s = o2.s AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))),
        |tri AS (SELECT count(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.s = w.t1 AND o.t = w.t2))
        |SELECT (SELECT count(*) FROM dg) AS n_nodes,
        |  (SELECT count(*) FROM e0) AS n_edges,
        |  (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM dg) AS n_wedges,
        |  tri.n_triangles,
        |  ${round4("3.0 * tri.n_triangles / (SELECT sum(deg * (deg - 1) // 2) FROM dg)")} AS gcc
        |FROM tri""".stripMargin),

    // entity-graph PageRank: fact-scale edge aggregation, then 5 rounds of
    // fixed-point integer rank propagation (scale 1e9, damping 85/100,
    // floor division) — integer-exact, oracle replays every round
    // CDC merge-apply: latest change per key (ts, event_id lexicographic
    // max) onto the customer snapshot; upsert/delete/insert provenance
    QuerySpec("x16_cdc_apply", RelationalQueries.x16CdcApply,
      """WITH ch AS (SELECT user_id AS key, epoch_us(ts) AS seq,
        |    event_id AS seq2,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    value AS newval
        |  FROM events),
        |lat AS (SELECT key, op, newval FROM (
        |    SELECT key, op, newval, row_number() OVER (PARTITION BY key
        |      ORDER BY seq DESC, seq2 DESC) AS rk FROM ch) t WHERE rk = 1),
        |m AS (SELECT coalesce(c.c_custkey, l.key) AS key,
        |    CASE WHEN l.op IS NOT NULL THEN l.newval ELSE c.c_acctbal END AS val,
        |    CASE WHEN l.op IS NULL THEN 'kept'
        |         WHEN c.c_custkey IS NULL THEN 'inserted'
        |         ELSE 'updated' END AS src,
        |    l.op AS op
        |  FROM customer c FULL OUTER JOIN lat l ON c.c_custkey = l.key)
        |SELECT key, val, src FROM m WHERE op IS NULL OR op <> 'delete'
        |ORDER BY key""".stripMargin),

    // single-source BFS levels on the above-average trade graph: 6
    // min-relax rounds == recursive reachability capped at depth 6;
    // unreached nations stay null
    QuerySpec("x17_bfs_levels", RelationalQueries.x17BfsLevels,
      s"""WITH RECURSIVE edges AS (
        |  $tradeEdgesSql),
        |aw AS (SELECT avg(w) AS aw FROM edges),
        |ed AS (SELECT src, dst FROM edges, aw WHERE w > aw),
        |walk(id, l) AS (
        |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS l
        |  UNION
        |  SELECT CAST(e.dst AS BIGINT), w.l + 1
        |  FROM walk w JOIN ed e ON e.src = w.id WHERE w.l < 6),
        |lvls AS (SELECT id, min(l) AS lvl FROM walk GROUP BY id)
        |SELECT n.n_name, lvls.lvl FROM nation n
        |LEFT JOIN lvls ON n.n_nationkey = lvls.id
        |ORDER BY n.n_name""".stripMargin),

    QuerySpec("x11_pagerank", RelationalQueries.x11Pagerank, {
        val base = 150000000L // (100-85) * 1e9 / 100
        val head =
          s"""edges AS ($tradeEdgesSql),
            |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src),
            |e AS (SELECT edges.src, edges.dst, edges.w, outw.wout
            |  FROM edges JOIN outw ON edges.src = outw.src),
            |nodes AS (SELECT n_nationkey AS id FROM nation),
            |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""r$i AS (SELECT nodes.id,
             |  CAST($base + (85 * coalesce(c.sc, 0)) // 100 AS BIGINT) AS pr
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst, CAST(sum((r.pr * e.w) // e.wout) AS BIGINT) AS sc
             |    FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) c
             |  ON nodes.id = c.dst)""".stripMargin
        }
        (s"WITH ${(head +: rounds).mkString(",\n")}\n" +
          """SELECT n.n_name, r5.pr FROM r5 JOIN nation n ON r5.id = n.n_nationkey
            |ORDER BY r5.pr DESC, n.n_name""".stripMargin)
      }),

    // per-group OLS trend: exact-integer sufficient statistics (day index
    // x from fixed epoch-day 19723, cents y), closed-form doubles derived
    // with identical IEEE expression shapes — hash-equal, no tolerance
    QuerySpec("x10_group_regression", RelationalQueries.x10GroupRegression,
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) - 19723 AS x,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        |  FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS syc,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*yc) AS BIGINT) AS sxy,
        |    CAST(sum(yc*yc) AS BIGINT) AS syy
        |  FROM e GROUP BY event_type),
        |t AS (SELECT *, n*sxy - sx*syc AS num, n*sxx - sx*sx AS denx,
        |    n*syy - syc*syc AS deny FROM s),
        |u AS (SELECT *, CASE WHEN denx <> 0
        |    THEN CAST(num AS DOUBLE)/CAST(denx AS DOUBLE)/100.0 END AS slope FROM t)
        |SELECT event_type, n, sx AS sum_x, CAST(syc AS DOUBLE)/100.0 AS sum_y,
        |  slope,
        |  (CAST(syc AS DOUBLE)/100.0 - slope*CAST(sx AS DOUBLE))/CAST(n AS DOUBLE) AS intercept,
        |  CASE WHEN denx <> 0 AND deny <> 0
        |    THEN (CAST(num AS DOUBLE)*CAST(num AS DOUBLE))/(CAST(denx AS DOUBLE)*CAST(deny AS DOUBLE)) END AS r2
        |FROM u ORDER BY event_type""".stripMargin),

    // cohort retention: first-event-day cohorts, distinct actives per week
    // offset, ratio vs cohort size — all integer day/week math
    QuerySpec("x9_retention", RelationalQueries.x9Retention,
      s"""WITH f AS (SELECT user_id, min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY user_id),
        |fc AS (SELECT user_id, first_us, first_us // 86400000000 AS cohort_day FROM f),
        |cs AS (SELECT cohort_day, count(*) AS cohort_size FROM fc GROUP BY cohort_day),
        |a AS (SELECT fc.cohort_day,
        |    ((epoch_us(e.ts) // 86400000000) - fc.cohort_day) // 7 AS wk,
        |    e.user_id
        |  FROM events e JOIN fc ON e.user_id = fc.user_id),
        |act AS (SELECT cohort_day, wk, count(DISTINCT user_id) AS active_users
        |  FROM a WHERE wk <= 3 GROUP BY cohort_day, wk)
        |SELECT act.cohort_day, act.wk, act.active_users, cs.cohort_size,
        |  ${round4("act.active_users * 1.0 / cs.cohort_size")} AS retention
        |FROM act JOIN cs ON act.cohort_day = cs.cohort_day
        |ORDER BY act.cohort_day, act.wk""".stripMargin),

    // funnel: first view, then first click AT OR AFTER it — the ordering
    // constraint is the operator; unconverted users keep their row, gap -1
    QuerySpec("x8_funnel", RelationalQueries.x8Funnel,
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS first_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.first_view
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view,
        |  c.first_click IS NOT NULL AS converted,
        |  coalesce(c.first_click - v.first_view, -1) AS gap_us
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |ORDER BY v.user_id""".stripMargin),

    // HLL mergeability: per-shard sketches unioned must estimate EXACTLY
    // what a single pass estimates (register max-merge is associative);
    // engine-specific estimates stay out of the gate — booleans + exact
    // twin only, a8's pattern
    // HLL mergeability: sharded unions (4-way and 8-way) and the single
    // pass must all estimate within the sketch bound — union estimates are
    // NOT bit-identical across shardings (see the a13 scaladoc), so the
    // oracle pins the bound booleans and the exact twin
    QuerySpec("a13_hll_merge", RelationalQueries.a13HllMerge,
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok,
        |  TRUE AS merge4_ok,
        |  TRUE AS merge8_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // bottom-k-by-hash uniform sample: deterministic distributed
    // "reservoir" — hash order is a fixed uniform permutation, so both
    // engines derive the identical sample; rank = hash order
    QuerySpec("a15_bottomk_sample", RelationalQueries.a15BottomkSample,
      s"""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type, user_id,
        |    ${hash32Sql("user_id")} AS h
        |  FROM tu),
        |r AS (SELECT event_type, user_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY h, user_id) AS INT) AS smp_rank
        |  FROM h)
        |SELECT event_type, smp_rank, user_id FROM r
        |WHERE smp_rank <= 10 ORDER BY event_type, smp_rank""".stripMargin),

    // last-touch attribution: one per-user window pass credits each
    // purchase to the latest prior non-purchase event; (ts µs, event_id)
    // tie order; decimal revenue sums
    QuerySpec("x18_attribution", RelationalQueries.x18Attribution,
      s"""WITH t AS (SELECT user_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'direct') AS channel, count(*) AS n_purchases,
        |  ${sumDecSql(dec("value"))} AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin),

    // equi-width histogram: 20 fixed 25-wide value bins per event type
    // (clamped floor division), counts + per-type share
    QuerySpec("a17_histogram", RelationalQueries.a17Histogram,
      s"""WITH ev AS (SELECT event_type,
        |    CAST(least(greatest(floor(value / 25.0), 0), 19) AS INT) AS bucket
        |  FROM events),
        |tot AS (SELECT event_type, count(*) AS total FROM ev GROUP BY event_type),
        |b AS (SELECT event_type, bucket, count(*) AS n
        |  FROM ev GROUP BY event_type, bucket)
        |SELECT b.event_type, b.bucket, b.n,
        |  ${round4("b.n * 1.0 / tot.total")} AS share
        |FROM b JOIN tot ON b.event_type = tot.event_type
        |ORDER BY b.event_type, b.bucket""".stripMargin),

    // Efraimidis-Spirakis weighted sample without replacement: key
    // u^(1/w) compared as ln(u)/w, u from the md5 hash-uniform, weight
    // c_acctbal+1000; quantized to a long so both engines rank identical
    // integers (the one ln per row is the only transcendental)
    QuerySpec("a16_weighted_sample", RelationalQueries.a16WeightedSample,
      s"""WITH h AS (SELECT c_mktsegment, c_custkey, c_acctbal,
        |    ${hash32Sql("c_custkey")} AS h
        |  FROM customer),
        |k AS (SELECT c_mktsegment, c_custkey,
        |    CAST(floor(ln((h + 0.5) / 4294967296.0) / (c_acctbal + 1000.0)
        |      * 4294967296.0) AS BIGINT) AS q
        |  FROM h),
        |r AS (SELECT c_mktsegment, c_custkey,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY q DESC, c_custkey) AS INT) AS smp_rank
        |  FROM k)
        |SELECT c_mktsegment, smp_rank, c_custkey FROM r
        |WHERE smp_rank <= 8 ORDER BY c_mktsegment, smp_rank""".stripMargin),

    // theta-sketch audience overlap: |A ∩ B| per event-type pair must
    // estimate within 5% of |A ∪ B| on both the direct and the 4-way
    // sharded-union build; estimates are build-path-dependent so the
    // oracle pins the exact twin + the bound booleans (a13's pattern)
    QuerySpec("a14_theta_intersect", RelationalQueries.a14ThetaIntersect,
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS exact_both, TRUE AS direct_ok, TRUE AS sharded_ok,
        |  TRUE AS est_regime_ok
        |FROM tu a JOIN tu b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin),

    // Count-Min heavy hitters: the whole grid is deterministic integer
    // math (md5 -> 32-bit -> universal hash), so estimates are gated
    // exactly, not just bounded; DuckDB's HUGEINT sums cast back to BIGINT
    QuerySpec("a9_cms_topk", RelationalQueries.a9CmsTopk,
      s"""WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |h AS (SELECT user_id, n,
        |    ${hash32Sql("user_id")} AS hh
        |  FROM pu),
        |probes AS (SELECT user_id, n, j, ((hh * a + b) % 2147483647) % 64 AS bucket
        |  FROM h, (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13), (3, 43, 17)) AS t(j, a, b)),
        |grid AS (SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cell
        |  FROM probes GROUP BY j, bucket),
        |est AS (SELECT p.user_id, CAST(min(g.cell) AS BIGINT) AS est_n
        |  FROM probes p JOIN grid g USING (j, bucket) GROUP BY p.user_id)
        |SELECT pu.user_id, pu.n AS exact_n, est.est_n,
        |  est.est_n >= pu.n AS lower_ok
        |FROM pu JOIN est USING (user_id)
        |ORDER BY est_n DESC, user_id LIMIT 10""".stripMargin),

    // bloom semi-join pruning: both engines recompute the identical bit
    // set (same md5 → universal-hash integer math as the CMS grid), so the
    // hash compare pins no-false-negatives AND the exact false-positive
    // pattern of the 1024-bit filter
    QuerySpec("a10_bloom_prune", RelationalQueries.a10BloomPrune,
      s"""WITH build AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |hb AS (SELECT c_custkey,
        |    ${hash32Sql("c_custkey")} AS hh
        |  FROM build),
        |bits AS (SELECT DISTINCT ((hh * a + b) % 2147483647) % 1024 AS pos
        |  FROM hb, (VALUES (31, 7), (37, 11), (41, 13), (43, 17)) AS t(a, b)),
        |probe AS (SELECT DISTINCT o_custkey FROM orders),
        |hp AS (SELECT o_custkey,
        |    ${hash32Sql("o_custkey")} AS hh
        |  FROM probe),
        |pp AS (SELECT o_custkey, ((hh * a + b) % 2147483647) % 1024 AS pos
        |  FROM hp, (VALUES (31, 7), (37, 11), (41, 13), (43, 17)) AS t(a, b)),
        |flags AS (SELECT o_custkey, count(b.pos) = 4 AS maybe
        |  FROM pp LEFT JOIN bits b USING (pos) GROUP BY o_custkey)
        |SELECT f.o_custkey AS custkey, f.maybe,
        |  f.o_custkey IN (SELECT c_custkey FROM build) AS actual
        |FROM flags f ORDER BY custkey""".stripMargin),

    QuerySpec("x2_pivot_counts", RelationalQueries.x2PivotCounts,
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QuerySpec("x3_moving_avg", RelationalQueries.x3MovingAvg,
      s"""WITH daily AS (
        |  SELECT o_orderdate, ${sumDecSql(dec("o_totalprice"))} AS day_rev
        |  FROM orders GROUP BY o_orderdate)
        |SELECT o_orderdate, day_rev,
        |  ${round4("avg(day_rev) OVER w")} AS mov7
        |FROM daily
        |WINDOW w AS (ORDER BY o_orderdate ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderdate""".stripMargin),

    // offset windows: lag/lead/ntile share ONE custkey window; day gaps in
    // integer micros so no date-cast semantics differ between engines
    QuerySpec("x5_lead_lag", RelationalQueries.x5LeadLag,
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER w AS prev_ts,
        |  lead(o_orderdate) OVER w AS next_ts,
        |  (epoch_us(o_orderdate) - epoch_us(lag(o_orderdate) OVER w)) // 86400000000 AS gap_days,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),

    // ordered listagg: the explicit sort inside the aggregate is what makes
    // distributed string aggregation deterministic
    QuerySpec("x6_listagg", RelationalQueries.x6Listagg,
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // quantization fidelity: per-vector max reconstruction error relative
    // to the step is <= 0.5 by round-to-nearest — the invariant that makes
    // e7's int8 output fit for ANN
    QuerySpec("e8_dequant_error", SimilarityQueries.e8DequantError,
      s"""WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |u AS (SELECT vec_id, scale,
        |    abs(e[i] - floor(e[i] / scale + 0.5) * scale) AS err
        |  FROM s, generate_series(1, 64) AS t(i) WHERE scale > 0)
        |SELECT vec_id, ${round4("max(err) / scale")} AS rel_err
        |FROM u GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin),

    // the oracle is the natural CORRELATED subquery; the Spark side is the
    // decorrelated join plan — the pair proves the rewrite is semantics-
    // preserving (thresholds via exact decimal sums, so identical rows pass)
    QuerySpec("x4_small_qty_revenue", RelationalQueries.x4SmallQtyRevenue,
      s"""SELECT ${sumDecSql(dec("l_extendedprice"))} / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
        |  AND l_quantity < 0.2 * (
        |    SELECT ${sumDecSql(dec("l_quantity"))} / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // ------------------------------------------------- documents pipeline

    QuerySpec("d1_exact_dedup", TextQueries.d1ExactDedup,
      """SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin),

    QuerySpec("d2_minhash_pairs", TextQueries.d2MinhashPairs,
      s"""WITH $minhashCtes
        |SELECT id1, id2 FROM cands ORDER BY id1, id2""".stripMargin),

    QuerySpec("d3_jaccard_dupes", TextQueries.d3JaccardDupes,
      s"""WITH $minhashCtes
        |SELECT id1, id2, ${round4("j")} AS jaccard FROM (
        |  ${jaccardPairs("cands")}) t
        |WHERE j >= 0.8 ORDER BY id1, id2""".stripMargin),

    // the composed corpus-cleaning pipeline: t10 rules + d1 canon + d6
    // cluster reps, per-(lang, source) before/after stats; 0-coalesced for
    // groups that lose every doc
    QuerySpec("c1_corpus_pipeline", TextQueries.c1CorpusPipeline,
      s"""WITH RECURSIVE $minhashCtes,
        |tx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tfx AS (SELECT doc_id, tok, count(*) AS tf FROM tx GROUP BY doc_id, tok),
        |mx AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, max(tf) AS top_tf
        |       FROM tfx GROUP BY doc_id),
        |metrics AS (SELECT doc_id, n_tokens,
        |    ${round4("top_tf::DOUBLE / n_tokens")} AS ratio FROM mx),
        |${verifiedCte("dup", "cands")},
        |${componentCtes("dup")},
        |drop_ids AS (SELECT id FROM comp WHERE id <> cluster),
        |canon2 AS (SELECT d.doc_id, d.lang, d.source
        |           FROM documents d JOIN canon ON d.doc_id = canon.doc_id),
        |kept AS (SELECT c.lang, c.source, m.n_tokens
        |         FROM canon2 c JOIN metrics m USING (doc_id)
        |         WHERE c.doc_id NOT IN (SELECT id FROM drop_ids)
        |           AND m.ratio <= 0.2 AND m.n_tokens >= 10),
        |tot AS (SELECT lang, source, count(*) AS docs_in FROM documents GROUP BY lang, source),
        |agg AS (SELECT lang, source, count(*) AS docs_kept,
        |          CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        |        FROM kept GROUP BY lang, source)
        |SELECT t.lang, t.source, t.docs_in,
        |  coalesce(a.docs_kept, 0) AS docs_kept,
        |  CAST(coalesce(a.tokens_kept, 0) AS BIGINT) AS tokens_kept
        |FROM tot t LEFT JOIN agg a USING (lang, source)
        |ORDER BY lang, source""".stripMargin),

    // dup clusters = connected components over the d3 pair list; the
    // oracle walks the transitive closure with a recursive CTE (min
    // reachable id = the cluster label, matching min-label propagation)
    QuerySpec("d6_dup_clusters", TextQueries.d6DupClusters,
      s"""WITH RECURSIVE $minhashCtes,
        |${verifiedCte("dup", "cands")},
        |${componentCtes("dup")}
        |SELECT id AS doc_id, cluster,
        |  count(*) OVER (PARTITION BY cluster) AS cluster_size
        |FROM comp ORDER BY cluster, doc_id""".stripMargin),

    // dedup survivorship: per d6 cluster, keep the highest-quality member
    // (t3's quality blend, ties by lowest doc_id) and account for the
    // dropped token mass — the oracle replays the full chain: minhash
    // bands -> verified pairs -> components -> quality argmax
    QuerySpec("d10_survivorship", TextQueries.d10Survivorship,
      s"""WITH RECURSIVE $minhashCtes,
        |${verifiedCte("dup", "cands")},
        |${componentCtes("dup")},
        |qt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  $qualitySql AS quality
        |  FROM qt),
        |m AS (SELECT comp.cluster, comp.id AS doc_id, q.n_tokens, q.quality,
        |    row_number() OVER (PARTITION BY comp.cluster
        |      ORDER BY q.quality DESC, comp.id ASC) AS rk
        |  FROM comp JOIN q ON comp.id = q.doc_id)
        |SELECT cluster,
        |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
        |  max(CASE WHEN rk = 1 THEN quality END) AS survivor_quality,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped
        |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin),

    // decontamination: every 25th doc is the "benchmark"; a train doc is
    // contaminated when it shares >= 3 distinct trigram shingles with any
    // eval doc. Both sides' shingle lists are distinct per doc, so the
    // join-then-count is exact on both engines.
    QuerySpec("d7_decontaminate", TextQueries.d7Decontaminate,
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |shd AS (SELECT doc_id, unnest($shinglesSql) AS s FROM tk),
        |ev AS (SELECT doc_id AS eval_id, s FROM shd WHERE doc_id % 25 = 0),
        |tr AS (SELECT doc_id AS train_id, s FROM shd WHERE doc_id % 25 <> 0)
        |SELECT train_id, eval_id, count(*) AS n_overlap
        |FROM tr JOIN ev USING (s)
        |GROUP BY train_id, eval_id
        |HAVING count(*) >= 3
        |ORDER BY train_id, eval_id""".stripMargin),

    // cross-corpus NEAR-dup decontamination: two banded chains (train /
    // eval splits), candidates where any band key matches across corpora,
    // exact-Jaccard verify at >= 0.5 — banding replayed by the oracle, so
    // even which pairs the fixed hash family surfaces is gated
    // LSH band-geometry dial: the same 16-hash signatures banded 4x4 vs
    // 8x2, candidate volume / verified yield / precision per geometry,
    // nesting (4x4 subset of 8x2) and recall monotonicity pinned TRUE
    QuerySpec("d11_lsh_dial", TextQueries.d11LshDial,
      s"""WITH $sigCtes,
        |${bandCandCtes(4, "4")},
        |${bandCandCtes(2, "2")},
        |${verifiedCte("ver4", "cands4")},
        |${verifiedCte("ver2", "cands2")},
        |summary AS (
        |  SELECT 4::BIGINT AS n_bands, 4::BIGINT AS rows_per_band,
        |    (SELECT count(*) FROM cands4) AS n_candidates,
        |    (SELECT count(*) FROM ver4) AS n_verified
        |  UNION ALL
        |  SELECT 8::BIGINT, 2::BIGINT,
        |    (SELECT count(*) FROM cands2),
        |    (SELECT count(*) FROM ver2)),
        |flags AS (SELECT
        |  (SELECT count(*) FROM cands4 c4 WHERE NOT EXISTS
        |    (SELECT 1 FROM cands2 c2 WHERE c2.id1 = c4.id1 AND c2.id2 = c4.id2)) = 0 AS nested_ok,
        |  (SELECT count(*) FROM ver2) >= (SELECT count(*) FROM ver4) AS recall_monotone)
        |SELECT n_bands, rows_per_band, n_candidates, n_verified,
        |  ${round4("n_verified * 1.0 / n_candidates")} AS prec,
        |  nested_ok, recall_monotone
        |FROM summary CROSS JOIN flags ORDER BY n_bands""".stripMargin),

    QuerySpec("d9_cross_neardups", TextQueries.d9CrossNearDups,
      s"""WITH ${minhashBandCtes("_t", "doc_id % 25 <> 0")},
        |${minhashBandCtes("_e", "doc_id % 25 = 0")},
        |cands AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
        |  FROM bands_t t JOIN bands_e e ON t.band = e.band AND t.bk = e.bk)
        |SELECT train_id, eval_id, ${round4("j")} AS jaccard FROM (
        |  ${jaccardPairs("cands", "train_id", "eval_id", "shx_t", "shx_e")}) t
        |WHERE j >= 0.5 ORDER BY train_id, eval_id""".stripMargin),

    // banded 32-bit shingle simhash pairs (SimHashSig): same md5 base hash
    // as minhash, ±1 vote per shingle per bit, banded 4×8 bits (pigeonhole:
    // hamming ≤ 3 ⇒ one exact band), verified with bit_count(xor). A
    // shingle-less doc gets a NULL signature on both engines (NULL band
    // bits never equi-join).
    QuerySpec("d5_simhash_pairs", TextQueries.d5SimhashPairs, {
      val sums = (0 until 32).map(j =>
        s"list_sum(list_transform(sh, x -> CASE WHEN ((${hash32Sql("x")} >> $j) & 1) = 1 THEN 1 ELSE -1 END)) AS bs$j")
        .mkString(",\n  ")
      val bits = (0 until 32).map(j => s"(CASE WHEN bs$j >= 0 THEN ${1L << j}::BIGINT ELSE 0 END)")
        .mkString(" + ")
      val bandRows = (0 until 4).map(b =>
        s"SELECT doc_id, sig, $b AS band, (sig >> ${8 * b}) & 255 AS bits FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH $canonCte,
         |${shingleCtes("", canonTokens)},
         |s AS (SELECT doc_id, len(sh) AS n_sh,
         |  $sums
         |FROM shx),
         |sig AS (SELECT doc_id,
         |  CASE WHEN n_sh = 0 THEN NULL ELSE CAST($bits AS BIGINT) END AS sig FROM s),
         |bands AS (
         |  $bandRows),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sig AS s1, b.sig AS s2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(s1, s2)) <= 3
         |ORDER BY id1, id2""".stripMargin
    }),

    QuerySpec("d4_simhash16", TextQueries.d4Simhash, {
      val sums = (0 until 16).map(j =>
        s"list_sum(list_transform(dt, x -> CASE WHEN ((('0x' || substr(md5(x), 1, 4))::INT >> $j) & 1) = 1 THEN 1 ELSE -1 END)) AS bs$j")
        .mkString(",\n  ")
      val bits = (0 until 16).map(j => s"(CASE WHEN bs$j >= 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH dt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dt FROM documents),
         |s AS (SELECT doc_id,
         |  $sums
         |FROM dt)
         |SELECT doc_id, CAST($bits AS INT) AS simhash FROM s ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("t1_lang_id", TextQueries.t1LangId,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('le','la','les','et','est'))) AS s_fr,
        |  len(list_filter(t, x -> x IN ('el','los','las','y','es'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS s_de
        |FROM tk)
        |SELECT doc_id,
        |  CASE WHEN s_en > 0 AND s_en = best THEN 'en'
        |       WHEN s_fr > 0 AND s_fr = best THEN 'fr'
        |       WHEN s_es > 0 AND s_es = best THEN 'es'
        |       WHEN s_de > 0 AND s_de = best THEN 'de'
        |       ELSE 'und' END AS lang_pred
        |FROM (SELECT doc_id, s_en, s_fr, s_es, s_de,
        |        greatest(s_en, s_fr, s_es, s_de) AS best FROM sc) b
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t3_quality_score", TextQueries.t3QualityScore,
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id,
        |  len(t) AS n_tokens,
        |  len(list_distinct(t)) AS n_distinct,
        |  $qualitySql AS quality
        |FROM tk ORDER BY doc_id""".stripMargin),

    QuerySpec("t4_token_counts", TextQueries.t4TokenCounts,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+'))
        |    + len(regexp_extract_all(text, '[0-9]+'))
        |    + len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("t5_fingerprint", TextQueries.t5Fingerprint,
      """SELECT doc_id, md5(text) AS fp,
        |  md5(substr(text, 1, 64)
        |    || substr(text, greatest(length(text) - 63, 1), 64)
        |    || CAST(length(text) AS VARCHAR)) AS sfp
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("p8_except_sources", TextQueries.p8ExceptSources,
      """SELECT source FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT source FROM documents WHERE lang = 'de'
        |ORDER BY source""".stripMargin),

    QuerySpec("p9_intersect_sources", TextQueries.p9IntersectSources,
      """SELECT source FROM documents WHERE lang = 'en'
        |INTERSECT
        |SELECT source FROM documents WHERE lang = 'de'
        |ORDER BY source""".stripMargin),

    QuerySpec("t8_top_tokens", TextQueries.t8TopTokens,
      """SELECT token, count(*) AS doc_freq FROM (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents) t
        |GROUP BY token ORDER BY doc_freq DESC, token ASC LIMIT 20""".stripMargin),

    // positional phrase search: top-3 corpus bigrams (scan-stage
    // transform) retrieved through a positional inverted index — postings
    // semi-joined by query terms on BOTH phrase positions before the
    // (doc, pos+1) adjacency join; index-derived n_occ must equal the
    // scan-stage count (occ_consistent pinned TRUE by the hash)
    QuerySpec("t23_phrase_search", TextQueries.t23PhraseSearch,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i+1]}), recursive := true)
        |  FROM tk WHERE len(t) >= 2),
        |top AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2
        |  ORDER BY cnt DESC, w1, w2 LIMIT 3),
        |p AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |    i -> {'pos': i, 'term': t[i]}), recursive := true) FROM tk),
        |hit AS (SELECT top.w1, top.w2, top.cnt, p1.doc_id
        |  FROM top
        |  JOIN p p1 ON p1.term = top.w1
        |  JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |    AND p2.term = top.w2)
        |SELECT w1, w2, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
        |  min(doc_id) AS first_doc, count(*) = any_value(cnt) AS occ_consistent
        |FROM hit GROUP BY w1, w2
        |ORDER BY n_occ DESC, w1, w2""".stripMargin),

    // per-source KL divergence vs the corpus token mix: one (source,
    // token) count re-summed three ways; each p*ln(p/q) summand quantized
    // to the 2^20 grid so the per-source sum is an exact long
    QuerySpec("t25_source_kl", TextQueries.t25SourceKl,
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS cs FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM st GROUP BY source),
        |ct AS (SELECT token, CAST(sum(cs) AS BIGINT) AS cc FROM st GROUP BY token),
        |ctot AS (SELECT CAST(sum(cs) AS BIGINT) AS tc FROM st),
        |term AS (SELECT source,
        |    CAST(floor((cs / CAST(ts AS DOUBLE))
        |      * ln((cs / CAST(ts AS DOUBLE)) / (cc / CAST(tc AS DOUBLE)))
        |      * 1048576.0) AS BIGINT) AS tq
        |  FROM st JOIN stot USING (source) JOIN ct USING (token) CROSS JOIN ctot)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(tq) AS BIGINT) / 1048576.0 AS kl
        |FROM term GROUP BY source ORDER BY source""".stripMargin),

    // Zipf fit: ln-ln OLS over the top-100 token rank-frequency points,
    // quantized to an integer grid (floor(ln·2^20)) so the sufficient
    // statistics are exact ints and the closed-form doubles hash-equal
    QuerySpec("t24_zipf_fit", TextQueries.t24ZipfFit,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM c),
        |q AS (SELECT
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1048576.0) AS BIGINT) AS xq,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1048576.0) AS BIGINT) AS yq
        |  FROM r WHERE rank <= 100),
        |s AS (SELECT count(*) AS n,
        |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
        |    CAST(sum(xq*xq) AS BIGINT) AS sxx, CAST(sum(xq*yq) AS BIGINT) AS sxy,
        |    CAST(sum(yq*yq) AS BIGINT) AS syy FROM q),
        |t AS (SELECT *, n*sxy - sx*sy AS num, n*sxx - sx*sx AS denx,
        |    n*syy - sy*sy AS deny FROM s)
        |SELECT n, CAST(num AS DOUBLE)/CAST(denx AS DOUBLE) AS slope,
        |  ((CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE)/CAST(denx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1048576.0 AS intercept,
        |  (CAST(num AS DOUBLE)*CAST(num AS DOUBLE))
        |    / (CAST(denx AS DOUBLE)*CAST(deny AS DOUBLE)) AS r2
        |FROM t""".stripMargin),

    // BPE merge-pair counting: within each whitespace token every adjacent
    // character pair is one occurrence (2-char substrings — identical
    // formation on both engines); the top_k_by_count aggregate must rank
    // exactly like the (cnt DESC, pair ASC) window
    QuerySpec("t20_bpe_pairs", TextQueries.t20BpePairs,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |        i -> substr(w, i, 2))) AS pair
        |      FROM w WHERE length(w) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair)
        |SELECT pair, cnt, rank FROM (
        |  SELECT pair, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
        |  FROM c) r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // iterated BPE: 3 rounds of count → argmax merge → replace → re-count;
    // merged symbols are single PUA sentinel chars (U+E000+round) so pair
    // formation stays the 2-char-substring scan and merge application is
    // plain replace() — same greedy left-to-right semantics on both engines
    QuerySpec("t21_bpe_train", TextQueries.t21BpeTrain, {
        val out = (1 to BpeRounds).map(i =>
          s"SELECT $i AS iter, pair, cnt FROM m$i").mkString("\nUNION ALL ")
        s"""WITH $bpeCtes
           |$out
           |ORDER BY iter""".stripMargin
      }),

    // BPE application: the t21 chain's final rewritten token stream
    // (t3) measured per document against the raw stream (t0) — the fold
    // of sequential replaces per token IS training's rewrite sequence
    QuerySpec("t22_bpe_apply", TextQueries.t22BpeApply,
      s"""WITH $bpeCtes,
        |raw AS (SELECT doc_id, CAST(sum(length(w)) AS BIGINT) AS n_chars
        |  FROM t0 GROUP BY doc_id),
        |mrg AS (SELECT doc_id, CAST(sum(length(w)) AS BIGINT) AS n_symbols
        |  FROM t$BpeRounds GROUP BY doc_id)
        |SELECT r.doc_id, r.n_chars, m.n_symbols,
        |  r.n_chars - m.n_symbols AS saved,
        |  ${round4("CAST(r.n_chars AS DOUBLE) / m.n_symbols")} AS ratio
        |FROM raw r JOIN mrg m USING (doc_id)
        |WHERE r.n_chars > 0 ORDER BY r.doc_id""".stripMargin),

    QuerySpec("t10_repetition", TextQueries.t10Repetition,
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |m AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |        count(*) AS n_distinct, max(tf) AS top_tf
        |      FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  ${round4("top_tf::DOUBLE / n_tokens")} AS top_tok_ratio,
        |  (${round4("top_tf::DOUBLE / n_tokens")} <= 0.2
        |    AND n_tokens >= 10) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),

    QuerySpec("t11_source_cap", TextQueries.t11SourceCap(_, _),
      """SELECT source, doc_id, pick FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS INT) AS pick
        |  FROM documents) t
        |WHERE pick <= 20 ORDER BY source, pick""".stripMargin),

    // PII scrubbing: the CASE plants a contact line in 2/3 of docs (the
    // corpus has no PII of its own — the redactor must be seen to fire);
    // counts on raw text, replacement order email -> IP -> phone, and the
    // 'g' flags because DuckDB regexp_replace is first-match by default
    QuerySpec("t12_pii_redact", TextQueries.t12PiiRedact,
      """WITH seeded AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text
        |       ELSE 'user' || CAST(doc_id AS VARCHAR) || '@mail'
        |         || CAST(doc_id % 10 AS VARCHAR) || '.example.com call 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 ' || text
        |  END AS t FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ip,
        |  len(regexp_extract_all(t, '\d{3}-\d{4}')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |    '\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM seeded ORDER BY doc_id""".stripMargin),

    // Gopher-style rule battery: mean word length via len(text sans
    // spaces)/n — no per-token fold; dup-2-gram fraction on round4'd
    // doubles so both engines compare identical values
    QuerySpec("t14_gopher_rules", TextQueries.t14GopherRules,
      s"""WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS tk FROM documents),
        |$gopherCtes
        |SELECT doc_id, n_tokens, sw_hits, mwl, dup2_frac,
        |  (n_tokens >= 40) AS ok_len,
        |  (mwl >= 3.0 AND mwl <= 5.0) AS ok_mwl,
        |  (dup2_frac <= 0.05) AS ok_rep,
        |  (sw_hits >= 2) AS ok_stop,
        |  ($gopherKeepSql) AS keep
        |FROM f ORDER BY doc_id""".stripMargin),

    // context-window chunking: 32-token windows advancing by 24 (8-token
    // overlap), tail-covering chunk count, md5 of each re-joined window
    QuerySpec("c2_chunking", TextQueries.c2Chunking,
      s"""WITH $docTokensCte,
        |${chunkCtes("tk")}
        |SELECT doc_id, chunk_no, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(ckt) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ckt, ' ')) AS chunk_md5
        |FROM sl ORDER BY doc_id, chunk_no""".stripMargin),

    // sequence packing over c2's chunks: cumulative token count within
    // (lang, shard), pack = (cum - n) // 512 — integer math, exact on
    // both engines; the unique (doc_id, chunk_no) ordering key makes the
    // default RANGE frame equal to ROWS
    QuerySpec("c3_packing", TextQueries.c3Packing,
      s"""WITH $docTokensCte,
        |${chunkCtes("tk")},
        |${packCtes("documents")}
        |SELECT lang, shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
        |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM cw GROUP BY lang, shard, pack_id
        |ORDER BY lang, shard, pack_id""".stripMargin),

    // C4-rule duplicate-span removal: a doc's 8-token segment drops when
    // its content appears in >= 2 distinct docs; kept text re-hashed in
    // seg_no order (string_agg FILTER+ORDER BY = Spark's sorted collect of
    // the null-skipped when(); coalesce('') = Spark's empty-array join)
    // coalesce mirrors the Spark side's keep-the-row contract: a NULL-text
    // doc becomes one empty segment instead of vanishing from the output
    QuerySpec("d8_span_dedup", TextQueries.d8SpanDedup(_, _),
      """WITH tk AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |sg0 AS (SELECT doc_id, t,
        |    unnest(generate_series(0, (len(t) + 7) // 8 - 1)) AS i FROM tk),
        |segs AS (SELECT doc_id, CAST(i AS INT) AS seg_no,
        |    array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg FROM sg0),
        |fr AS (SELECT md5(seg) AS seg_md5, count(DISTINCT doc_id) AS doc_freq
        |       FROM segs GROUP BY 1)
        |SELECT s.doc_id, count(*) AS n_segs,
        |  CAST(sum(CASE WHEN f.doc_freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_no)
        |    FILTER (WHERE f.doc_freq < 2), '')) AS kept_md5
        |FROM segs s JOIN fr f ON md5(s.seg) = f.seg_md5
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    // smoothed unigram LM score: add-one token probs off the tf aggregate,
    // per-doc mean of round4'd log-probs accumulated as exact decimals
    QuerySpec("t15_unigram_lm", TextQueries.t15UnigramLm,
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_corpus,
        |        count(DISTINCT term) AS vocab FROM tf),
        |ct AS (SELECT doc_id, tf,
        |    sum(tf) OVER (PARTITION BY term) AS ctot FROM tf),
        |sc AS (SELECT doc_id, tf,
        |    ${round4("ln((ctot + 1) * 1.0 / (n_corpus + vocab))")} AS lp
        |  FROM ct, tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  ${avgLogprobSql("tf")} AS avg_logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // bigram LM score: t15 one Markov order up — corpus bigram counts via
    // the window-over-tf trick, unigram context joined on w1, same rounded
    // log-prob + decimal accumulation ladder; short docs keep their row
    QuerySpec("t19_bigram_lm", TextQueries.t19BigramLm,
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i+1])) AS w2
        |  FROM tk WHERE len(t) >= 2),
        |dbf AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
        |bc AS (SELECT doc_id, w1, n,
        |    sum(n) OVER (PARTITION BY w1, w2) AS bc FROM dbf),
        |uf AS (SELECT w1, count(*) AS uc
        |  FROM (SELECT unnest(t) AS w1 FROM tk) u GROUP BY w1),
        |vb AS (SELECT count(*) AS vocab FROM uf),
        |sc AS (SELECT doc_id, n,
        |    ${round4("ln((bc + 1) * 1.0 / (uc + vocab))")} AS lp
        |  FROM bc JOIN uf USING (w1) CROSS JOIN vb),
        |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |    ${avgLogprobSql("n")} AS avg_logprob
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.avg_logprob, 0.0) AS avg_logprob
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // temperature-scaled (alpha = 0.5) language mixture: keep rates
    // proportional to round4'd sqrt(share), decimal-normalized, membership
    // by the t6 content hash
    QuerySpec("t16_temperature_mix", TextQueries.t16TemperatureMix,
      s"""WITH ${temperatureCtes("documents")}
        |SELECT d.doc_id, d.lang, rt.rate
        |FROM documents d JOIN rt USING (lang)
        |WHERE ${hash32Sql("d.doc_id")} % 10000 < rt.rate
        |ORDER BY d.doc_id""".stripMargin),

    // stratified train/val/test split: pure hash of doc_id (md5-prefix
    // mod 100) partitions the corpus 80/10/10; exact counts + fractions
    // per (lang, split), band booleans pinned TRUE with 2x margin
    QuerySpec("c6_stratified_split", TextQueries.c6StratifiedSplit,
      s"""WITH h AS (SELECT lang,
        |    ${hash32Sql("doc_id")} % 100 AS b
        |  FROM documents),
        |s AS (SELECT lang, CASE WHEN b < 80 THEN 'train'
        |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM h),
        |g AS (SELECT lang, split, count(*) AS n_docs FROM s GROUP BY lang, split),
        |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM g GROUP BY lang)
        |SELECT g.lang, g.split, g.n_docs, t.n_lang,
        |  ${round4("g.n_docs * 1.0 / t.n_lang")} AS frac,
        |  abs(g.n_docs * 1.0 / t.n_lang -
        |    CASE WHEN g.split = 'train' THEN 0.8 ELSE 0.1 END) <= 0.15 AS within_band
        |FROM g JOIN t ON g.lang = t.lang
        |ORDER BY g.lang, g.split""".stripMargin),

    // the preparation composition: t14's rule gate -> t16's temperature
    // rates RECOMPUTED over the kept corpus -> c2 chunking of the sampled
    // docs -> c3 packing -> per-lang yield; zero-fill when a lang loses
    // every doc. Each fragment is verbatim its stand-alone oracle's.
    QuerySpec("c4_training_mix", TextQueries.c4TrainingMix,
      s"""WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS tk FROM documents),
        |$gopherCtes,
        |kept AS (SELECT doc_id, lang FROM f
        |  WHERE $gopherKeepSql),
        |${temperatureCtes("kept")},
        |samp AS (SELECT k.doc_id, k.lang FROM kept k JOIN rt USING (lang)
        |  WHERE ${hash32Sql("k.doc_id")} % 10000 < rt.rate),
        |tk2 AS (SELECT t.doc_id, t.tk AS t, len(t.tk) AS n
        |  FROM t JOIN samp ON t.doc_id = samp.doc_id),
        |${chunkCtes("tk2")},
        |${packCtes("samp")},
        |pk AS (SELECT lang, shard,
        |    CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id, n_tokens FROM cw),
        |ps AS (SELECT lang, count(*) AS n_chunks,
        |    count(DISTINCT CAST(shard AS VARCHAR) || ':' || CAST(pack_id AS VARCHAR)) AS n_packs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
        |  FROM pk GROUP BY lang),
        |di AS (SELECT lang, count(*) AS docs_in FROM documents GROUP BY lang),
        |dk AS (SELECT lang, count(*) AS docs_kept FROM kept GROUP BY lang),
        |ds AS (SELECT lang, count(*) AS docs_sampled FROM samp GROUP BY lang)
        |SELECT di.lang, di.docs_in,
        |  coalesce(dk.docs_kept, 0) AS docs_kept,
        |  coalesce(ds.docs_sampled, 0) AS docs_sampled,
        |  coalesce(ps.n_chunks, 0) AS n_chunks,
        |  coalesce(ps.n_packs, 0) AS n_packs,
        |  coalesce(ps.tokens_packed, 0) AS tokens_packed
        |FROM di LEFT JOIN dk USING (lang) LEFT JOIN ds USING (lang)
        |  LEFT JOIN ps USING (lang)
        |ORDER BY lang""".stripMargin),

    // stratified mixture sampling: per-lang keep rates over the t6 hash
    QuerySpec("t13_mixture_sample", TextQueries.t13MixtureSample,
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE ${hash32Sql("doc_id")} % 100 <
        |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'fr' THEN 25 ELSE 10 END
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t6_hash_sample", TextQueries.t6HashSample,
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE ${hash32Sql("doc_id")} % 10 = 0
        |ORDER BY doc_id""".stripMargin),

    // winsorization: per-lang [p5, p95] clamp of n_chars; the clamp runs
    // on round4'd interpolated bounds so both engines clip identically
    QuerySpec("t17_winsorize", TextQueries.t17Winsorize,
      s"""WITH b AS (SELECT lang,
        |    ${round4("quantile_cont(n_chars, 0.05)")} AS lo,
        |    ${round4("quantile_cont(n_chars, 0.95)")} AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  greatest(b.lo, least(b.hi, d.n_chars * 1.0)) AS clamped,
        |  (d.n_chars < b.lo OR d.n_chars > b.hi) AS clipped
        |FROM documents d JOIN b USING (lang)
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("t7_length_quantiles", TextQueries.t7LengthQuantiles,
      s"""SELECT lang,
        |  ${round4("quantile_cont(n_chars, 0.5)")} AS p50,
        |  ${round4("quantile_cont(n_chars, 0.9)")} AS p90,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // approximate quantiles, a8's gate pattern: exact twins hash-gated,
    // the engine-specific GK estimate bounded by 5%-error booleans the
    // oracle pins TRUE
    QuerySpec("a12_approx_quantiles", TextQueries.a12ApproxQuantiles,
      s"""SELECT lang,
        |  ${round4("quantile_cont(n_chars, 0.5)")} AS p50,
        |  ${round4("quantile_cont(n_chars, 0.9)")} AS p90,
        |  count(*) AS n_docs,
        |  TRUE AS ok_p50,
        |  TRUE AS ok_p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // PQ geometry dial: exhaustive ADC under m=2 (chains _p*) and m=4
    // (chains _q*) against one shared L2 truth; corpus-mean recalls and a
    // MEASURED finer_wins comparison (not an invariant: on isotropic data
    // the independence violation can beat the added capacity -- the OPQ
    // motivation), replayed identically by the oracle
    QuerySpec("e19_pq_dial", SimilarityQueries.e19PqDial, {
      val m4Ctes = (0 until 4).map { s =>
        kmeansCtes(SimilarityQueries.PqK, SimilarityQueries.PqRounds, 16,
          sfx = s"_q$s", vecSql = s"(embedding::DOUBLE[])[${s * 16 + 1}:${(s + 1) * 16}]")
      }.mkString(",\n")
      def recallCtes(tag: String): String =
        s"""rec$tag AS (SELECT t.q_id, ${dec(recallSql("a.n_id"), 4)} AS r
           |  FROM truth t LEFT JOIN (SELECT q_id, n_id FROM r$tag WHERE rank <= 5) a
           |    ON t.q_id = a.q_id AND t.n_id = a.n_id
           |  GROUP BY t.q_id),
           |mr$tag AS (SELECT ${round4(s"${sumDecSql("r")} / count(*)")} AS mean_recall
           |  FROM rec$tag)""".stripMargin
      s"""WITH $pqCtes,
        |$m4Ctes,
        |$qCte,
        |${vecCte()},
        |${adcCtes("2", 2, s => s"_p$s", oneCellQueries, oneCell)},
        |${adcCtes("4", 4, s => s"_q$s", oneCellQueries, oneCell)},
        |${truthCtes(cosine = false)},
        |${recallCtes("2")},
        |${recallCtes("4")}
        |SELECT m2.mean_recall AS mean_recall_m2, m4.mean_recall AS mean_recall_m4,
        |  m4.mean_recall >= m2.mean_recall AS finer_wins
        |FROM mr2 m2, mr4 m4""".stripMargin
    }),

    // power-iteration PCA: 6 covariance-action rounds (round4'd axis per
    // round), per-vector projection on the recovered top axis, variance
    // ratio from exact decimal sums of round4'd per-row quantities
    QuerySpec("e23_pca_project", SimilarityQueries.e23PcaProject,
      s"""WITH ${pcaPowerCtes(6, 64)},
        |prt AS (SELECT
        |    ${sumDecSql(dec(round4("proj * proj"), 4))}
        |    / ${sumDecSql(dec("xx", 4))} AS r FROM pp),
        |prr AS (SELECT ${round4("r")} AS var_ratio FROM prt)
        |SELECT vec_id, proj, var_ratio FROM pp, prr
        |ORDER BY vec_id""".stripMargin),

    // OPQ-lite permutation search: one PQ chain pair per candidate
    // coordinate partition (identity reuses the _p chains), corpus-total
    // reconstruction error per candidate, direction flags measured
    QuerySpec("e20_opq_permute", SimilarityQueries.e20OpqPermute, {
        val m = SimilarityQueries.PqM
        val sub = 64 / m
        val others = SimilarityQueries.OpqPerms.filter(_._1 != "identity")
        val chains = others.map { case (name, perm) =>
          (0 until m).map { s =>
            val idx = perm.slice(s * sub, (s + 1) * sub)
            kmeansCtes(SimilarityQueries.PqK, SimilarityQueries.PqRounds, sub,
              sfx = s"_o${name}_$s",
              vecSql = s"list_transform([${idx.mkString(", ")}], i -> (embedding::DOUBLE[])[i])")
          }.mkString(",\n")
        }.mkString(",\n")
        def err(name: String, sfxs: Seq[String]): String = {
          val u = sfxs.map(x => s"SELECT sq FROM af$x").mkString(" UNION ALL ")
          s"""SELECT '$name' AS perm,
             |    ${sumDecSql(dec(round4("sq"), 4))} AS total_err
             |  FROM ($u) u_$name""".stripMargin
        }
        val errs = (err("identity", (0 until m).map(s => s"_p$s")) +:
          others.map { case (name, _) =>
            err(name, (0 until m).map(s => s"_o${name}_$s"))
          }).mkString("\n  UNION ALL ")
        s"""WITH $pqCtes,
          |$chains,
          |errs AS (
          |  $errs)
          |SELECT perm, total_err,
          |  total_err <= (SELECT total_err FROM errs WHERE perm = 'identity') AS beats_identity,
          |  total_err = (SELECT min(total_err) FROM errs) AS is_best
          |FROM errs ORDER BY perm""".stripMargin
      }),

    // ------------------------------------------------ embeddings pipeline

    QuerySpec("e1_knn_brute", SimilarityQueries.e1KnnBrute,
      s"""WITH q AS (${querySide("embedding::DOUBLE[] AS qe")}),
        |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS ne FROM embeddings),
        |s AS (SELECT q_id, n_id,
        |        list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))) AS cos
        |      FROM c, q WHERE q_id <> n_id)
        |${cosineTopK("s")} ORDER BY q_id, rank""".stripMargin),

    QuerySpec("e2_knn_ivf", SimilarityQueries.e2KnnIVF,
      s"""WITH q AS (${querySide("embedding::DOUBLE[] AS qe, label AS q_cell")}),
        |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS ne, label AS n_cell FROM embeddings),
        |s AS (SELECT q_id, n_id,
        |        list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))) AS cos
        |      FROM c JOIN q ON q_cell = n_cell AND q_id <> n_id)
        |${cosineTopK("s")} ORDER BY q_id, rank""".stripMargin),

    // multi-probe IVF: centroids are the round4'd per-(label,dim) means
    // (identical on both engines — raw float sums are shuffle-order
    // dependent, rounded means are not), so the probe ranking and every
    // downstream distance is a deterministic fold over identical inputs
    QuerySpec("e6_knn_ivf_multiprobe", SimilarityQueries.e6KnnIVFMultiProbe,
      s"""WITH $labelMeansCtes,
        |cent AS (SELECT label AS cluster, list(c ORDER BY dim) AS c FROM cm GROUP BY label),
        |${probeCtes("cent", 2)},
        |cc AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS ne, label AS n_cell,
        |        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n_norm
        |      FROM embeddings),
        |${probedCosineCte("cc")}
        |${cosineTopK("s")} ORDER BY q_id, rank""".stripMargin),

    // int8 scalar quantization: all ops correctly-rounded IEEE (abs, max,
    // divide, floor) — bit-identical across engines, no display rounding
    QuerySpec("e7_quantize", SimilarityQueries.e7Quantize,
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, i AS dim,
        |  CAST(CASE WHEN scale = 0 THEN 0 ELSE floor(e[i] / scale + 0.5) END AS INT) AS qval,
        |  scale
        |FROM s, generate_series(1, 64) AS t(i)
        |ORDER BY vec_id, dim""".stripMargin),

    // BM25 (k1=1.2, b=0.75) over an in-plan mid-frequency query slice:
    // rounded idf and partials decimal-summed; decimal literals cast to
    // DOUBLE so DuckDB's decimal arithmetic can't diverge from IEEE
    QuerySpec("t18_bm25", TextQueries.t18Bm25, {
      val idf = round4("ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)")
      val bm25Part =
        s"""($idf)
           |      * (tf * 2.2::DOUBLE)
           |      / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))""".stripMargin
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ad AS (SELECT ${round4("avg(dl)")} AS avgdl FROM dl),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |q AS (SELECT term, df FROM (
        |    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM dft) x
        |  WHERE r BETWEEN 11 AND 15),
        |sc AS (SELECT tf.doc_id,
        |    ${dec(round4(bm25Part), 4)} AS part
        |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad),
        |agg AS (SELECT doc_id, ${sumDecSql("part")} AS bm25, count(*) AS n_hit
        |  FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_hit, bm25,
        |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        |  FROM agg)
        |SELECT doc_id, n_hit, bm25, rank FROM r WHERE rank <= 20
        |ORDER BY rank""".stripMargin
    }),

    // tf-idf ranks on the ROUNDED score (libm ln is not correctly-rounded;
    // round4 makes the ranking key engine-independent), ties by term asc
    QuerySpec("t9_tfidf", TextQueries.t9Tfidf,
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf,
        |    ${round4("tf * ln((n_docs + 1) / (df + 1))")} AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        |  FROM sc)
        |SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin),

    QuerySpec("m1_payload_meta", MultimodalQueries.m1PayloadMeta,
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  substr(hex(text::BLOB), 1, 16) AS head8_hex,
        |  (octet_length(text::BLOB) + 255) // 256 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),

    // kind = ["image","audio","video"][doc_id % 3] (mediaFromDocuments);
    // frames are 64-BYTE windows cut on the binary payload (byte-true
    // slicing — no string round-trip), so both the count and the totals
    // are octet-based
    QuerySpec("m2_frame_explode", MultimodalQueries.m2FrameExplode,
      """SELECT doc_id AS media_id,
        |  (octet_length(text::BLOB) + 63) // 64 AS n_frames,
        |  octet_length(text::BLOB) AS frame_bytes_total
        |FROM documents WHERE doc_id % 3 = 2 AND octet_length(text::BLOB) > 0
        |ORDER BY media_id""".stripMargin),

    // the decode stub seeds from the first 32 bits of md5(payload); all
    // downstream integers are recomputed here from the raw text. duration
    // is quoted in the record's n_bytes = length(text) (CHARS, as in
    // mediaFromDocuments), not octets. The feature fingerprint hashes the
    // ','-joined 16-bit x values (feature value = x/2^15 − 1, exact in
    // Float, so Spark recovers x losslessly before hashing).
    QuerySpec("m3_decode_features", MultimodalQueries.m3DecodeFeatures,
      s"""WITH h AS (SELECT doc_id,
        |    ${hash32Sql("text")} AS h,
        |    length(text) AS n_chars
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(64 + (h % 1024) AS INT) AS width,
        |  CAST(64 + ((h // 7) % 1024) AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE n_chars * 10 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 3 END AS INT) AS channels,
        |  md5(array_to_string(list_transform(range(0, 16),
        |    i -> ((h * 31 + i * 2654435761) % 65536)::VARCHAR), ',')) AS feat_fp
        |FROM h ORDER BY media_id""".stripMargin),

    // the Lloyd iteration end-to-end: the oracle replays all three rounds
    // (assignment + rounded means) and must land every vector in the same
    // cluster at the same squared distance
    // product quantization: one Lloyd chain per subspace slice; codes +
    // per-subspace squared error, both engines replaying identical rounds
    QuerySpec("e13_pq_codes", SimilarityQueries.e13PqCodes,
      s"""WITH $pqCtes
        |SELECT vec_id, sub, code, sq FROM (
        |$pqSelect) u
        |ORDER BY vec_id, sub""".stripMargin),

    // ADC search over the PQ codes: per-query LUT against the trained
    // codebooks, code-only corpus scan, decimal-summed rounded partials
    QuerySpec("e14_adc_search", SimilarityQueries.e14AdcSearch,
      s"""WITH $pqCtes,
        |$qCte,
        |${adcCtes("", SimilarityQueries.PqM, s => s"_p$s", oneCellQueries, oneCell)}
        |SELECT q_id, n_id, rank, adc FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),

    // IVF-PQ composition: the coarse chain (kmCtes) picks each query's 2
    // probed cells, the PQ chains (pqCtes) supply codebooks + codes, and
    // the ADC join is keyed on (cell, sub, code) — only probed cells score
    QuerySpec("e15_ivf_pq_search", SimilarityQueries.e15IvfPqSearch,
      ivfPqSearchOracleSql),

    // stored-model serving: persist the trained model as parquet tables
    // (ModelStore), load it back, search from the LOADED tables — the
    // store must be invisible to the result, so the oracle is e15's
    // training + search chain verbatim
    QuerySpec("e21_stored_model_search", SimilarityQueries.e21StoredModelSearch,
      ivfPqSearchOracleSql),

    // residual vs raw PQ: the coarse chain's residuals feed their own pair
    // of subspace chains; per-vector reconstruction errors (exact decimal
    // sums of rounded per-sub sq) side by side, direction flag pinned
    QuerySpec("e16_residual_pq", SimilarityQueries.e16ResidualPq, {
      def errCte(name: String, alias: String, sfxs: Seq[String]): String = {
        val u = sfxs.map(x => s"SELECT vec_id, sq FROM af$x").mkString(" UNION ALL ")
        s"""$name AS (SELECT vec_id,
           |    ${sumDecSql(dec(round4("sq"), 4))} AS $alias
           |  FROM ($u) u GROUP BY vec_id)""".stripMargin
      }
      val subs = 0 until SimilarityQueries.PqM
      s"""WITH $kmCtes,
        |$residPqCtes,
        |$pqCtes,
        |${errCte("rawerr", "raw_err", subs.map(s => s"_p$s"))},
        |${errCte("reserr", "res_err", subs.map(s => s"_r$s"))}
        |SELECT r.vec_id, r.raw_err, e.res_err, e.res_err <= r.raw_err AS improved
        |FROM rawerr r JOIN reserr e ON r.vec_id = e.vec_id
        |ORDER BY r.vec_id""".stripMargin
    }),

    // semantic dedup: learned cells bound the pair search, transitive
    // closure (recursive walk, d6's idiom) collapses pairs to clusters,
    // min-id member is the kept representative
    QuerySpec("c5_semantic_dedup", SimilarityQueries.c5SemanticDedup,
      s"""WITH RECURSIVE $kmCtes,
        |cellvecs AS (SELECT af.vec_id, af.cluster AS cell, v.v, sqrt(v.dxx) AS nrm
        |  FROM af JOIN v USING (vec_id)),
        |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM cellvecs a JOIN cellvecs b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35),
        |${componentCtes("pairs")}
        |SELECT id AS vec_id, cluster,
        |  count(*) OVER (PARTITION BY cluster) AS cluster_size,
        |  id = cluster AS keep
        |FROM comp ORDER BY cluster, vec_id""".stripMargin),

    // full IVFADC: residual chains (e16's resid CTE) supply codebooks and
    // codes; each query builds one residual LUT per probed cell; the ADC
    // join is keyed on (cell, sub, code) exactly as e15
    QuerySpec("e17_ivfadc_search", SimilarityQueries.e17IvfadcSearch,
      s"""WITH $ivfadcCtes
        |SELECT q_id, n_id, rank, adc FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),

    // IVFADC evaluation: e17's ranked result joined against brute-force
    // EUCLIDEAN truth per (q_id, n_id) — ADC approximates squared L2, so
    // the truth metric is L2; e12's recall tail otherwise
    QuerySpec("e18_ivfadc_recall", SimilarityQueries.e18IvfadcRecall,
      s"""WITH $ivfadcCtes,
        |approx AS (SELECT q_id, n_id FROM r WHERE rank <= 5),
        |${truthCtes(cosine = false)}
        |$recallAt5Sql""".stripMargin),

    // ADC re-rank refine step: e17's IVFADC chain yields a 20-candidate
    // shortlist; only those rows fetch raw vectors and re-rank by exact
    // L2; recall@5 vs the brute truth, side by side with ADC-only@5 —
    // rerank_ge is a theorem (truth members in the shortlist always
    // outrank non-members exactly) and must come out TRUE
    QuerySpec("e22_adc_rerank", SimilarityQueries.e22AdcRerank,
      s"""WITH $ivfadcCtes,
        |short AS (SELECT q_id, n_id, rank FROM r WHERE rank <= 20),
        |ex AS (SELECT s.q_id, s.n_id,
        |    list_dot_product(q.qe, q.qe) - 2 * list_dot_product(q.qe, v.v)
        |      + v.dxx AS d2
        |  FROM short s JOIN q USING (q_id) JOIN v ON s.n_id = v.vec_id),
        |rr AS (${l2Top5("ex")}),
        |adc5 AS (SELECT q_id, n_id FROM short WHERE rank <= 5),
        |${truthCtes(cosine = false)}
        |SELECT t.q_id, count(*) AS n_truth,
        |  count(a.n_id) AS hit_adc, count(e.n_id) AS hit_rerank,
        |  ${recallSql("a.n_id")} AS recall_adc,
        |  ${recallSql("e.n_id")} AS recall_rerank,
        |  count(e.n_id) >= count(a.n_id) AS rerank_ge
        |FROM truth t
        |LEFT JOIN adc5 a ON t.q_id = a.q_id AND t.n_id = a.n_id
        |LEFT JOIN rr e ON t.q_id = e.q_id AND t.n_id = e.n_id
        |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin),

    QuerySpec("e9_kmeans_assign", SimilarityQueries.e9KmeansAssign,
      s"""WITH $kmCtes
        |SELECT vec_id, cluster, ${round4("sq")} AS sq_dist
        |FROM af ORDER BY vec_id""".stripMargin),

    // inertia = exact decimal sum of the display-rounded per-vector
    // squared distances: order-independent on both engines
    QuerySpec("e10_kmeans_inertia", SimilarityQueries.e10KmeansInertia,
      s"""WITH $kmCtes
        |SELECT cluster, count(*) AS n_vecs,
        |  ${sumDecSql(dec(round4("sq"), 4))} AS inertia
        |FROM af GROUP BY cluster ORDER BY cluster""".stripMargin),

    // e6's probe/scan shape over the LEARNED quantizer: cells from af,
    // probe ranking against the trained (round4'd) centroids
    QuerySpec("e11_knn_ivf_learned", SimilarityQueries.e11KnnIVFLearned,
      s"""WITH $kmCtes,
        |${learnedScanCtes(2)}
        |${cosineTopK("s")} ORDER BY q_id, rank""".stripMargin),

    // ANN evaluation: recall@5 of the learned multi-probe search vs the
    // brute-force truth — e11's CTE chain (through r) plus e1's brute
    // ranking, joined per (q_id, n_id)
    QuerySpec("e12_recall_at_k", SimilarityQueries.e12RecallAtK,
      s"""WITH $kmCtes,
        |${learnedScanCtes(2)},
        |approx AS (SELECT q_id, n_id FROM (
        |  ${cosineTopK("s")}) t),
        |${truthCtes(cosine = true)}
        |$recallAt5Sql""".stripMargin),

    // probe-count sensitivity: ONE candidate pass at prank <= 4; each
    // nprobe's top-5 is a row_number whose CASE ordering pushes wider-probe
    // rows to the bottom — recall at nprobe 1/2/4 plus the monotone pin
    QuerySpec("e12b_probe_recall", SimilarityQueries.e12bProbeRecall, {
        def rkCase(n: Int) =
          s"""row_number() OVER (PARTITION BY q_id
             |      ORDER BY CASE WHEN prank <= $n THEN 0 ELSE 1 END, cos DESC, n_id) AS rk$n"""
            .stripMargin
        def rec(n: Int) = s"${recallSql(s"CASE WHEN f.h$n THEN 1 END")} AS recall_$n"
        s"""WITH $kmCtes,
          |${learnedScanCtes(4)},
          |rk AS (SELECT q_id, n_id, prank,
          |    ${rkCase(1)},
          |    ${rkCase(2)},
          |    ${rkCase(4)}
          |  FROM s),
          |flags AS (SELECT q_id, n_id,
          |    (prank <= 1 AND rk1 <= 5) AS h1,
          |    (prank <= 2 AND rk2 <= 5) AS h2,
          |    (prank <= 4 AND rk4 <= 5) AS h4
          |  FROM rk),
          |${truthCtes(cosine = true)},
          |agg AS (SELECT t.q_id, count(*) AS n_truth,
          |    ${rec(1)},
          |    ${rec(2)},
          |    ${rec(4)}
          |  FROM truth t LEFT JOIN flags f ON t.q_id = f.q_id AND t.n_id = f.n_id
          |  GROUP BY t.q_id)
          |SELECT q_id, n_truth, recall_1, recall_2, recall_4,
          |  recall_1 <= recall_2 AND recall_2 <= recall_4 AS monotone
          |FROM agg ORDER BY q_id""".stripMargin
      }),

    QuerySpec("e4_centroid", SimilarityQueries.e4Centroid,
      s"""WITH $labelMeansCtes
        |SELECT label, dim, c FROM cm ORDER BY label, dim""".stripMargin),

    QuerySpec("e5_normalize", SimilarityQueries.e5Normalize,
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |FROM embeddings)
        |SELECT vec_id, i AS dim,
        |  ${round4("e[i] / nrm")} AS unit_val
        |FROM n, generate_series(1, 64) AS t(i)
        |ORDER BY vec_id, dim""".stripMargin),

    QuerySpec("e3_cos_neardup", SimilarityQueries.e3CosNeardup,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ${round4("list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))")} AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.35
        |ORDER BY id1, id2""".stripMargin)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
