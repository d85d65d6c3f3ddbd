"""Checks the program's outputs against computations made apart from it.

DuckDB recomputes every constraint count, the chi-square statistics, the
fixed-point LM scores and the per-language tertiles from the generated
Parquet; the generator supplies the planted near-duplicate clusters and gate
failures. Nothing here reads a saved copy of the program's output. Each
check returns a list of failure messages (empty when the output is right).
"""
import os

import duckdb
import numpy as np
import pyarrow as pa

M64 = (1 << 64) - 1
P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << np.uint64(r)) | (x >> np.uint64(64 - r))) & np.uint64(M64)


def _xxh64_long(v, seed):
    """XXH64 of one 8-byte value as Spark's xxhash64 hashes a LONG column."""
    with np.errstate(over="ignore"):
        h = seed + np.uint64(P5) + np.uint64(8)
        h ^= _rotl(v * np.uint64(P2), 31) * np.uint64(P1)
        h = _rotl(h, 27) * np.uint64(P1) + np.uint64(P4)
        h ^= h >> np.uint64(33)
        h *= np.uint64(P2)
        h ^= h >> np.uint64(29)
        h *= np.uint64(P3)
        h ^= h >> np.uint64(32)
    return h


def sample_gate(ids):
    """graft's deterministic-sample gate for long keys: pmod(xxhash64(id,
    1L, 0L), 10^6) -- op tag 1 ("sample"), salt 0, Spark's seed 42."""
    ids = np.asarray(ids, dtype=np.int64).view(np.uint64)
    h = _xxh64_long(ids, np.full(len(ids), 42, dtype=np.uint64))
    h = _xxh64_long(np.full(len(ids), 1, dtype=np.uint64), h)
    h = _xxh64_long(np.zeros(len(ids), dtype=np.uint64), h)
    return np.mod(h.view(np.int64), 1_000_000)


def id_mix(ids):
    ids = np.asarray(ids, dtype=np.int64)
    return int(np.sum((ids * 2654435761) % 4294967296))


def _db():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    return con


def _parquet(data, name):
    return f"read_parquet('{os.path.join(data, name, '*.parquet')}')"


def check_validate(data, meta, expect, digest):
    bad = []
    con = _db()
    con.execute(f"CREATE VIEW s AS SELECT * FROM {_parquet(data, 'sequences.parquet')}")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM {_parquet(data, 'sources.parquet')}")
    mx, hi, bos = meta["max_len"], meta["vocab"] - 1, meta["bos"]
    flags = {
        "nonnull(doc_id)": "doc_id IS NULL",
        "regex(doc_id)": f"doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '{meta['doc_id_pattern']}')",
        "nonnull(source)": "source IS NULL",
        "range(n_tok)": f"n_tok IS NOT NULL AND NOT (n_tok >= 1 AND n_tok <= {mx})",
        "lengthConsistent(tokens,n_tok)": "tokens IS NOT NULL AND n_tok IS NOT NULL AND len(tokens) <> n_tok",
        "elemRange(tokens)": f"len(list_filter(tokens, x -> x IS NULL OR x < 0 OR x > {hi})) > 0",
        "contains(tokens)": f"tokens IS NOT NULL AND NOT list_contains(tokens, {bos})",
        "sizeBounds(tokens)": f"tokens IS NOT NULL AND NOT (len(tokens) >= 1 AND len(tokens) <= {mx})",
    }
    cols = ", ".join(f"sum(CASE WHEN {f} THEN 1 ELSE 0 END)" for f in flags.values())
    any_fail = " OR ".join(f"coalesce({f}, false)" for f in flags.values())
    row = con.execute(
        f"SELECT count(*), {cols}, sum(CASE WHEN {any_fail} THEN 1 ELSE 0 END), "
        f"sum(len(list_filter(tokens, x -> x IS NULL OR x < 0 OR x > {hi}))) FROM s").fetchone()
    n_rows, fail_rows = row[0], row[1 + len(flags)]
    rows_failing = dict(zip(flags, row[1:1 + len(flags)]))
    expected = dict(rows_failing)
    expected["elemRange(tokens)"] = row[2 + len(flags)]  # one violation per bad element
    expected["unique(doc_id)"] = con.execute(
        "SELECT count(*) FROM (SELECT doc_id FROM s WHERE doc_id IS NOT NULL "
        "GROUP BY doc_id HAVING count(*) > 1)").fetchone()[0]
    expected["ref(source->source)"] = con.execute(
        "SELECT count(DISTINCT source) FROM s WHERE source IS NOT NULL "
        "AND source NOT IN (SELECT source FROM dim)").fetchone()[0]
    bw, thr = meta["bin_width"], meta["chi2_threshold"]
    chi2 = dict(con.execute(f"""
        WITH b AS (SELECT source AS grp, CAST(floor(n_tok / {bw}) AS BIGINT) AS bin
                   FROM s WHERE n_tok IS NOT NULL AND source IS NOT NULL),
             obs AS (SELECT grp, bin, count(*) AS obs FROM b GROUP BY grp, bin),
             gt AS (SELECT grp, CAST(sum(obs) AS BIGINT) AS gt FROM obs GROUP BY grp),
             bt AS (SELECT bin, CAST(sum(obs) AS BIGINT) AS bt FROM obs GROUP BY bin),
             n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM obs),
             cells AS (
               SELECT gt.grp, CAST(gt.gt * bt.bt AS DOUBLE) / n.n AS e, coalesce(obs.obs, 0) AS o
               FROM gt CROSS JOIN bt CROSS JOIN n
               LEFT JOIN obs ON obs.grp = gt.grp AND obs.bin = bt.bin)
        SELECT grp, sum(CASE WHEN e > 0 THEN (o - e) * (o - e) / e ELSE 0 END) FROM cells
        GROUP BY grp""").fetchall())
    breach = {g: v for g, v in chi2.items() if v > thr}
    drift_id = "drift(n_tok by source)"
    expected[drift_id] = len(breach)

    got = digest.get("violations", {})
    for cid, n in expected.items():
        g = got.get(cid, {}).get("n", 0)
        if g != n:
            bad.append(f"{cid}: {g} violations, DuckDB counts {n}")
    for cid in set(got) - set(expected):
        bad.append(f"unexpected constraint in violations: {cid}")

    detail = digest.get("detail", [])
    drift = {d[1]: float(d[3].split("=", 1)[1]) for d in detail if d[0] == drift_id}
    if set(drift) != set(breach):
        bad.append(f"breaching sources {sorted(drift)} != DuckDB's {sorted(breach)}")
    for g in set(drift) & set(breach):
        if abs(drift[g] - breach[g]) > 1e-9 * abs(breach[g]):
            bad.append(f"chi2({g}) = {drift[g]!r}, DuckDB {breach[g]!r} (rel. tol. 1e-9)")

    spans = [(d[1], int(d[2].split(".", 1)[1])) for d in detail
             if d[0] == "elemRange(tokens)" and d[2].startswith("tokens.")]
    if len(spans) != expected["elemRange(tokens)"]:
        bad.append(f"{len(spans)} tokens.<i> spans, DuckDB counts {expected['elemRange(tokens)']} bad elements")
    if spans:
        con.execute("CREATE TABLE sp(doc_id VARCHAR, i INTEGER)")
        con.executemany("INSERT INTO sp VALUES (?, ?)", spans)
        wrong = con.execute(f"""
            SELECT count(*) FROM sp WHERE NOT EXISTS (
              SELECT 1 FROM s WHERE s.doc_id = sp.doc_id AND len(s.tokens) > sp.i
                AND (s.tokens[sp.i + 1] IS NULL OR s.tokens[sp.i + 1] < 0
                     OR s.tokens[sp.i + 1] > {hi}))""").fetchone()[0]
        if wrong:
            bad.append(f"{wrong} tokens.<i> spans name an element that is in range")

    rep = digest.get("report", {})
    if rep.get("rows") != n_rows:
        bad.append(f"report rows {rep.get('rows')} != input rows {n_rows}")
    if rep.get("pass", 0) + rep.get("fail", 0) != rep.get("rows"):
        bad.append("report pass + fail != rows")
    if rep.get("fail") != fail_rows:
        bad.append(f"report fail {rep.get('fail')} != DuckDB rows with a breach {fail_rows}")
    by_check = rep.get("fail_by_check", {})
    for cid, n in rows_failing.items():
        if by_check.get(cid, 0) != n:
            bad.append(f"report fail_by_check[{cid}] = {by_check.get(cid, 0)}, DuckDB {n}")
    con.close()
    return bad


def check_neardup(data, meta, expect, digest):
    s = digest.get("survivors", {})
    want = expect["survivors"]
    bad = []
    if s.get("n") != len(want):
        bad.append(f"{s.get('n')} survivors, expected {len(want)}")
    if s.get("id_sum") != sum(want) or s.get("id_mix") != id_mix(want):
        bad.append("survivor id checksum differs from the planted clusters' expectation")
    return bad


# Mirrors graft's order-3 interpolated LM (UnigramLM.trainNgram/scoreNgram):
# vocabularies by (count desc, key asc), chr(1)-joined keys, longest-context
# dispatch with dyadic weights, per-token round(ln(p) * 1e6).
_LM_SQL = """
WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS words FROM {src}),
 toks AS (
   SELECT doc_id, p, words[p] AS cur,
          CASE WHEN p > 1 THEN words[p-1] END AS prev,
          CASE WHEN p > 2 THEN words[p-2] END AS prev2
   FROM d, unnest(range(1, len(words) + 1)) AS t(p))
"""

_MODEL_SQL = """
CREATE TABLE tot AS SELECT CAST(count(*) AS BIGINT) AS n FROM ttoks;
CREATE TABLE uni AS SELECT cur AS g, CAST(count(*) AS BIGINT) AS c FROM ttoks
  GROUP BY 1 ORDER BY c DESC, g ASC LIMIT {s1};
CREATE TABLE big AS SELECT prev || chr(1) || cur AS g, CAST(count(*) AS BIGINT) AS c FROM ttoks
  WHERE prev IS NOT NULL GROUP BY 1 ORDER BY c DESC, g ASC LIMIT {s2};
CREATE TABLE tri AS SELECT prev2 || chr(1) || prev || chr(1) || cur AS g, CAST(count(*) AS BIGINT) AS c
  FROM ttoks WHERE prev2 IS NOT NULL GROUP BY 1 ORDER BY c DESC, g ASC LIMIT {s3};
"""

_SCORE_SQL = """
CREATE TABLE ppl AS
WITH lp AS (
  SELECT t.doc_id,
    CAST(round(ln(CASE
      WHEN t.prev IS NULL OR up.c IS NULL
      THEN CAST(coalesce(uc.c, 1) AS DOUBLE) / (SELECT n FROM tot)
      WHEN t.prev2 IS NULL OR b2.c IS NULL
      THEN 0.5 * (CAST(coalesce(b.c, 0) AS DOUBLE) / up.c)
         + 0.5 * (CAST(coalesce(uc.c, 1) AS DOUBLE) / (SELECT n FROM tot))
      ELSE 0.5 * (CAST(coalesce(g3.c, 0) AS DOUBLE) / b2.c)
         + 0.25 * (CAST(coalesce(b.c, 0) AS DOUBLE) / up.c)
         + 0.25 * (CAST(coalesce(uc.c, 1) AS DOUBLE) / (SELECT n FROM tot))
      END) * 1e6) AS BIGINT) AS v
  FROM stoks t
  LEFT JOIN uni uc ON t.cur = uc.g
  LEFT JOIN uni up ON t.prev = up.g
  LEFT JOIN big b ON t.prev || chr(1) || t.cur = b.g
  LEFT JOIN big b2 ON t.prev2 || chr(1) || t.prev = b2.g
  LEFT JOIN tri g3 ON t.prev2 || chr(1) || t.prev || chr(1) || t.cur = g3.g),
 score AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS lp, CAST(count(*) AS BIGINT) AS nt FROM lp GROUP BY doc_id)
SELECT doc_id, (-lp) // nt AS ppl_fp FROM score WHERE nt > 0;
"""

_BUCKET_SQL = """
WITH samp AS (SELECT x.lang, p.ppl_fp FROM ppl p JOIN x USING (doc_id) WHERE x.g < {cut}),
 r AS (SELECT lang, ppl_fp, row_number() OVER (PARTITION BY lang ORDER BY ppl_fp) AS rn,
              count(*) OVER (PARTITION BY lang) AS c FROM samp),
 t AS (SELECT lang, max(CASE WHEN rn <= (c + 2) // 3 THEN ppl_fp END) AS t1,
              max(CASE WHEN rn <= (2 * c + 2) // 3 THEN ppl_fp END) AS t2 FROM r GROUP BY lang)
SELECT p.doc_id, x.lang, p.ppl_fp,
       CASE WHEN p.ppl_fp <= t.t1 THEN 'head' WHEN p.ppl_fp <= t.t2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ppl p JOIN x USING (doc_id) JOIN t ON x.lang = t.lang
"""


def check_quality(data, meta, expect, digest):
    bad = []
    audit = digest.get("audit", {})
    rows = meta["rows"]
    if sum(audit.values()) != rows:
        bad.append(f"audit stages sum to {sum(audit.values())}, input has {rows} rows")
    surv = digest.get("gate_survivors", {})
    if audit.get("kept") != surv.get("n"):
        bad.append(f"audit kept {audit.get('kept')} != survivors action count {surv.get('n')}")
    if audit != expect["audit"]:
        bad.append(f"audit {audit} != planted gate failures {expect['audit']}")
    kept = np.array(expect["gate_survivors"], dtype=np.int64)
    if surv.get("id_mix") != id_mix(kept):
        bad.append("gate survivor id checksum differs from the generator's expectation")

    con = _db()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM {_parquet(data, 'docs.parquet')}")
    gate = sample_gate(kept)
    con.register("kept_df", pa.table({"doc_id": kept, "g": gate}))
    con.execute("CREATE TABLE x AS SELECT d.doc_id, d.lang, d.text, k.g FROM docs d "
                "JOIN kept_df k USING (doc_id)")
    cut = int(meta["sample_fraction"] * 1_000_000)
    con.execute("CREATE TABLE ttoks AS " + _LM_SQL.format(
        src=f"(SELECT doc_id, text FROM x WHERE g < {cut})") + " SELECT * FROM toks")
    sizes = dict(zip(["s1", "s2", "s3"], meta["lm_sizes"]))
    for stmt in _MODEL_SQL.format(**sizes).split(";"):
        if stmt.strip():
            con.execute(stmt)
    con.execute("CREATE TABLE stoks AS " + _LM_SQL.format(src="x") + " SELECT * FROM toks")
    con.execute(_SCORE_SQL)
    buckets = _BUCKET_SQL.format(cut=cut)
    counts = {f"{l}/{b}": n for l, b, n in con.execute(
        f"SELECT lang, bucket, count(*) FROM ({buckets}) GROUP BY ALL").fetchall()}
    if digest.get("counts") != counts:
        bad.append(f"ccnetSelect counts {digest.get('counts')} != DuckDB {counts}")
    n, mix, ppl_sum = con.execute(
        f"SELECT count(*), sum((doc_id * 2654435761) % 4294967296), sum(ppl_fp) FROM ({buckets}) "
        "WHERE bucket <> 'tail'").fetchone()
    sel = digest.get("selected", {})
    if (sel.get("n"), sel.get("id_mix"), sel.get("ppl_sum")) != (n, int(mix), int(ppl_sum)):
        bad.append(f"ccnetSelect survivors (n, id checksum, sum ppl_fp) = "
                   f"{(sel.get('n'), sel.get('id_mix'), sel.get('ppl_sum'))}, DuckDB {(n, mix, ppl_sum)}")
    con.close()
    return bad


CHECKS = {"validate": check_validate, "neardup": check_neardup, "quality": check_quality}
