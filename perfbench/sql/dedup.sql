-- The dedup half of the stream_dedup workload: frozen copies of the DuckDB
-- oracle texts of suites.Dedup d02 and d07, so a change to the program
-- cannot change the benchmark's expected pairs. Both brute-force every
-- pair and never use LSH, so a change that loses pairs fails the check.
--
-- `documents` is the fixture's table with every word salted by the run's
-- seed (perfbench/workloads.py `salted_documents`), as the client salts it.
-- The salt maps shingles one to one, so d02's Jaccard pair set is the same
-- for every seed: data/documents_exact_pairs.tsv holds it, written once by
-- `python3 perfbench/workloads.py --write-exact-pairs` (about 5 minutes on
-- 4 cores). d07 hashes the salted shingles into its buckets, so its pair
-- set changes with the seed and is computed per run (about 7 s on 4 cores).

-- name: d02x_minhash
WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
    i -> w[i] || '_' || coalesce(w[i+1], '') || '_' || coalesce(w[i+2], ''))) AS t
  FROM sp)
SELECT a.doc_id AS id1, b.doc_id AS id2,
  round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
      / len(list_distinct(list_concat(a.t, b.t))) >= 0.5
ORDER BY id1, id2;

-- name: d07x_embedding
WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  unnest(list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
    i -> w[i] || '_' || coalesce(w[i+1], '') || '_' || coalesce(w[i+2], '')))) AS g
  FROM sp),
cnt AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(g), 1, 4)) AS INTEGER) % 256 AS bucket,
    CAST(count(*) AS DOUBLE) AS c
  FROM sh GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS nr FROM cnt GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.c*b.c) AS d
  FROM cnt a JOIN cnt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id1, id2, round(cos, 6) AS cosine
FROM (SELECT id1, id2, d/(na.nr*nb.nr) AS cos
      FROM dots JOIN nrm na ON id1 = na.doc_id
                JOIN nrm nb ON id2 = nb.doc_id)
WHERE cos >= 0.8
ORDER BY id1, id2;
