#!/usr/bin/env python3
"""Reference answers, computed apart from the program, cached per seed.

curate  DuckDB composes the stage oracles of the spec's processors: the
        markup chain of q80, the PII counts and redaction of q63, q92's
        normalization, q27's literal replace, q28's regex swap, q33's quality
        score, q58's top-bigram fraction and q100's keyword score.
dedup   q37's exact char-16-gram Jaccard pair oracle in DuckDB, then
        min-label connected components in Python (the tools/check_clusters.py
        derivation of q55).
ingest  Python replays of each gate's rule: q129's shared word n-gram
        membership for the contamination gate, q137's content identity for
        the exact-dup gate, and for the flag-only near-dup gate the two
        outcomes LSH banding cannot miss (see `near_expectation`).

Usage: python3 perfbench/refs.py --workload <name> --seed <n> [--seconds <s>]
builds the program if needed, then rebuilds the inputs and the reference of
one seed from scratch.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import duckdb

import gen

# The patterns the program compiles (graft.ext.TextAnalysis), restated here so
# a change to them in the program shows up as a failed check.
SCRIPT_RE = "(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>"
STYLE_RE = "(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>"
TAG_RE = "<[^>]*>"
WS_RE = r"[ \t\n\r\f]+"
ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
            ("&nbsp;", " "), ("&amp;", "&")]
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
JUNK_RE = r"[ \t\r\n\x00-\x1F\x7F]+"
SWAP_RE, SWAP_REP = "([a-z]+) ([a-z]+)", r"\2 \1"
# The quality scorer's stopwords (graft.ext.TextAnalysis) and q100's keyword
# weights over GenData's word list, the spec's keyword_filter weights.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
KEYWORDS = {"fast": 3, "spark": 2, "join": 1, "merge": 1,
            "slow": -3, "batch": -1, "scan": -1, "the": -2}
MIN_QUALITY = 0.5
MAX_TOP_BIGRAM = 0.1
KEYWORD_MIN = 0


def q(s):
    return "'" + s.replace("'", "''") + "'"


def strip_markup(x):
    e = f"regexp_replace(regexp_replace({x}, {q(SCRIPT_RE)}, ' ', 'g'), {q(STYLE_RE)}, ' ', 'g')"
    e = f"regexp_replace({e}, {q(TAG_RE)}, ' ', 'g')"
    for a, b in ENTITIES:
        e = f"replace({e}, {q(a)}, {q(b)})"
    return f"trim(regexp_replace({e}, {q(WS_RE)}, ' ', 'g'))"


def curate_sql(docs):
    """Statements that leave the expected sink rows in table `ref`."""
    stops = ", ".join(q(w) for w in STOPWORDS)
    kw = " ".join(f"WHEN {q(k)} THEN {v}" for k, v in KEYWORDS.items())
    return [f"""
CREATE TEMP TABLE rewritten AS
WITH s0 AS (SELECT doc_id, text FROM read_parquet('{docs}/*.parquet')),
s1 AS (SELECT doc_id, {strip_markup('text')} AS text FROM s0),
s2 AS (SELECT doc_id,
  CAST(len(regexp_extract_all(text, {q(EMAIL_RE)})) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, {q(PHONE_RE)})) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(text, {q(IPV4_RE)})) AS BIGINT) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(text,
    {q(EMAIL_RE)}, '<EMAIL>', 'g'), {q(PHONE_RE)}, '<PHONE>', 'g'),
    {q(IPV4_RE)}, '<IP>', 'g') AS text FROM s1),
s3 AS (SELECT doc_id, n_emails, n_phones, n_ips,
  lower(trim(regexp_replace(text, {q(JUNK_RE)}, ' ', 'g'))) AS text FROM s2)
SELECT doc_id, n_emails, n_phones, n_ips,
  regexp_replace(replace(text, 'data', 'info'), {q(SWAP_RE)}, {q(SWAP_REP)}, 'g') AS text
FROM s3""", """
CREATE TEMP TABLE tok AS
SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS i
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM rewritten)""", f"""
CREATE TEMP TABLE ref AS
WITH per_doc AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n,
    CAST(count(*) FILTER (WHERE w IN ({stops})) AS DOUBLE) AS n_stop,
    sum(CASE w {kw} ELSE 0 END) AS kw_score
  FROM tok GROUP BY 1),
bigrams AS (SELECT a.doc_id, a.w || ' ' || b.w AS b
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
bc AS (SELECT doc_id, b, count(*) AS cnt FROM bigrams GROUP BY 1, 2),
bs AS (SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS max_bi FROM bc GROUP BY 1),
scored AS (SELECT r.*, p.kw_score,
    (p.n_stop / p.n) * 0.4
      + greatest(0.0, 1.0 - abs(CAST(length(replace(r.text, ' ', '')) AS DOUBLE)
          / p.n - 5.0) / 5.0) * 0.4
      + least(p.n / 100.0, 1.0) * 0.2 AS quality,
    coalesce(CAST(bs.max_bi AS DOUBLE) / CAST(bs.n_bigrams AS DOUBLE), 0.0) AS top_bigram
  FROM rewritten r JOIN per_doc p USING (doc_id) LEFT JOIN bs USING (doc_id))
SELECT doc_id, text, n_emails, n_phones, n_ips FROM scored
WHERE quality >= {MIN_QUALITY} AND top_bigram <= {MAX_TOP_BIGRAM}
  AND kw_score >= {KEYWORD_MIN}"""]


def dedup_pairs_sql(docs):
    return f"""
WITH d AS (SELECT doc_id, text FROM read_parquet('{docs}/*.parquet')),
sh0 AS (SELECT DISTINCT doc_id AS id, substr(text, i, 16) AS sh FROM
  (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS i FROM d)),
keep AS (SELECT sh FROM sh0 GROUP BY sh
  HAVING count(*) <= greatest(500, (SELECT count(*) // 10 FROM d))),
sh AS (SELECT id, sh0.sh FROM sh0 JOIN keep USING (sh)),
sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
inter AS (SELECT a.id AS i, b.id AS j, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
SELECT i, j FROM inter JOIN sz x ON i = x.id JOIN sz y ON j = y.id
WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.5"""


def components(pairs, ids):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return {d: find(d) for d in ids}


def word_grams(text, n):
    """The program's word n-gram set: split on single spaces, and a text
    shorter than n tokens is one gram."""
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(max(len(ws) - n + 1, 1))}


def near_expectation(grams, corpus_sets, index):
    """The near-dup gate flags LSH candidates (32 bands of 4 MinHash rows).
    Two outcomes are certain enough to check: a document sharing no gram
    with the corpus cannot be flagged, and one whose Jaccard with some corpus
    document is at least 0.8 is flagged with probability 1 - 4.6e-8. Anything
    between is left unchecked (None)."""
    shared = {}
    for g in grams:
        for d in index.get(g, ()):
            shared[d] = shared.get(d, 0) + 1
    if not shared:
        return False
    best = max(c / (len(grams) + len(corpus_sets[d]) - c) for d, c in shared.items())
    return True if best >= 0.8 else None


def ingest_reference(data):
    con = duckdb.connect()
    corpus = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{data}/corpus/*.parquet') ORDER BY doc_id").fetchall()]
    bench = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{data}/bench/*.parquet')").fetchall()]
    stream = json.load(open(os.path.join(data, "stream.json")))["docs"]
    bench_grams = set().union(*(word_grams(t, gen.CONTAMINATION_N) for t in bench))
    corpus_texts = set(corpus)
    corpus_sets = [word_grams(t, gen.NEAR_DUP_N) for t in corpus]
    index = {}
    for d, gs in enumerate(corpus_sets):
        for g in gs:
            index.setdefault(g, []).append(d)
    out = []
    for text in stream:
        contaminated = not word_grams(text, gen.CONTAMINATION_N).isdisjoint(bench_grams)
        exact = text in corpus_texts
        near = None if contaminated or exact else near_expectation(
            word_grams(text, gen.NEAR_DUP_N), corpus_sets, index)
        out.append({"contaminated": contaminated, "exact": exact, "near": near})
    return out


def build_reference(workload, data):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    if workload == "curate":
        for stmt in curate_sql(data + "/docs"):
            con.execute(stmt)
        con.execute(f"COPY ref TO '{data}/ref.parquet' (FORMAT PARQUET)")
    elif workload == "dedup":
        pairs = con.execute(dedup_pairs_sql(data + "/docs")).fetchall()
        ids = [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{data}/docs/*.parquet')").fetchall()]
        comp = components(pairs, ids)
        con.execute("CREATE TABLE ref (doc_id BIGINT, cluster_id BIGINT, keep BOOLEAN)")
        con.executemany("INSERT INTO ref VALUES (?, ?, ?)",
                        [(d, comp[d], d == comp[d]) for d in ids])
        con.execute(f"COPY ref TO '{data}/ref.parquet' (FORMAT PARQUET)")
        with open(os.path.join(data, "ref_pairs.json"), "w") as f:
            json.dump({"pairs": len(pairs)}, f)
    else:
        with open(os.path.join(data, "ref.json"), "w") as f:
            json.dump(ingest_reference(data), f)


def stamp(root):
    """Content hash of what the inputs derive from: this module, gen.py and
    the program's generator."""
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(here, f) for f in ("gen.py", "refs.py")] + [
        os.path.join(root, "src", "main", "scala", "graft", "tools", "GenData.scala")]
    return hashlib.sha256(b"\0".join(open(f, "rb").read() for f in files)).hexdigest()


def ensure(root, java, workload, seed, seconds, rebuild=False):
    """Inputs and reference for one (workload, seed, run length), built once
    and reused by later runs with the same key. `java` is the command prefix
    that runs a class of the compiled program (GenData writes the corpus)."""
    inputs = os.path.join(root, ".bench_build", "inputs")
    data = os.path.join(inputs, f"{workload}-{seed}-{seconds}")
    done = os.path.join(data, "DONE")
    key = stamp(root)
    if not rebuild and os.path.exists(done) and open(done).read() == key:
        return data
    shutil.rmtree(data, ignore_errors=True)
    docs = gen.corpus(java, os.path.join(inputs, f"gendata-{seed}"), seed, key, rebuild)
    meta = gen.generate(workload, docs, data, seconds)
    build_reference(workload, data)
    with open(os.path.join(data, "meta.json"), "w") as f:
        json.dump(meta, f)
    with open(done, "w") as f:
        f.write(key)
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["curate", "dedup", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    import run  # the build and the JVM command line are the runner's
    java = run.java_cmd(run.build(os.getcwd()))
    print(ensure(os.getcwd(), java, a.workload, a.seed, a.seconds, rebuild=True))


if __name__ == "__main__":
    sys.exit(main())
