"""Seeded input generation for the three workloads.

The documents come from the program's own generator, graft.tools.GenData
(`--tables=documents --vocab-growth=0.5`), with the seed as its `--salt`,
so the same seed writes the same documents. That keeps the shape of the
sf0.1 test data: 8-90 words per document over GenData's word list, ~0.8%
exact and ~1.7% near duplicates of a document 997 or 991 ids earlier. This module only adds what the repo's stage queries plant on top of
the corpus, on every document as they do: q92's case/whitespace/control
noise, q63's contact suffix and q80's page chrome (`curate`), and it cuts
one GenData corpus into the reference corpus and the posted stream
(`ingest`).
"""
import json
import os
import shutil
import subprocess

import pyarrow as pa
import pyarrow.parquet as pq

GENDATA_DOCS = 5000  # GenData documents at scale 1 (the sf0.1 corpus)
GENDATA_LIMIT_S = 300
# One GenData corpus per seed serves every workload: document k does not
# depend on the corpus size at or below scale 1, so each workload takes a
# prefix of the same corpus, and runs of different workloads on one seed
# generate it once.
CORPUS_DOCS = 4000

CURATE_DOCS = 4000
CURATE_PARTS = 8

DEDUP_DOCS = 1500
DEDUP_PARTS = 4

INGEST_CORPUS = 1000
INGEST_BACKLOG = 150
INGEST_RATE = 20.0  # documents per second offered in the trickle phase
CONTAMINATION_N = 8
NEAR_DUP_N = 8


def corpus(java, out, seed, key, rebuild=False):
    """Documents 0..CORPUS_DOCS-1 of GenData's corpus for `seed`, as
    (doc_id, text) lists ordered by doc_id, written once under `out` and
    reused while `key` (the inputs' content stamp) is unchanged."""
    done = os.path.join(out, "DONE")
    path = os.path.join(out, "documents.parquet")
    if rebuild or not (os.path.exists(done) and open(done).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp)
        scale = (CORPUS_DOCS + 0.5) / GENDATA_DOCS
        cmd = java + [f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
                      "graft.tools.GenData", out, repr(scale), "--tables=documents",
                      f"--salt={seed}", "--vocab-growth=0.5"]
        r = subprocess.run(cmd, cwd=out, env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=GENDATA_LIMIT_S)
        if r.returncode != 0:
            raise RuntimeError(f"GenData failed:\n{r.stdout[-3000:]}")
        shutil.rmtree(tmp)
        with open(done, "w") as f:
            f.write(key)
    t = pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")
    ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    if ids != list(range(CORPUS_DOCS)):
        raise RuntimeError(f"GenData wrote {len(ids)} documents, expected {CORPUS_DOCS}")
    return ids, texts


def write_docs(path, ids, texts, parts):
    os.makedirs(path, exist_ok=True)
    bounds = [len(ids) * k // parts for k in range(parts + 1)]
    for k in range(parts):
        lo, hi = bounds[k], bounds[k + 1]
        table = pa.table({"doc_id": pa.array(ids[lo:hi], pa.int64()),
                          "text": pa.array(texts[lo:hi], pa.string())})
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


def noise(text):
    # q92: a tab, the first 40 characters uppercased, CR/LF, C0 bytes and a
    # doubled space
    return f"\t {text[:40].upper()}\n\r{text}\x01\x02  "


def pii(doc_id, text):
    # q63: one email, one phone number and one IPv4 address from the doc_id
    return (f"{text} contact user{doc_id}@mail{doc_id % 7}.example.com call "
            f"555-{(doc_id * 7) % 1000:03d}-{(doc_id * 13) % 10000:04d} "
            f"ip 10.{doc_id % 256}.0.{(doc_id * 3) % 256}")


def markup(doc_id, text):
    # q80: a script body with a bare '>', an uppercase STYLE block,
    # attributes and entity-escaped text
    return ('<html><head><STYLE>p {color:#c00}</STYLE><script type="text/js">'
            f'var i={doc_id};if(i>1){{i=0}}</script></head><body class="doc">'
            f'<h1>Doc {doc_id}</h1> <p>{text}</p> <p>&quot;q&quot; &amp;amp; '
            '&lt;tag&gt;&nbsp;&#39;s&#39;</p></body></html>')


def gen_curate(docs, out):
    ids, texts = docs[0][:CURATE_DOCS], docs[1][:CURATE_DOCS]
    texts = [markup(i, pii(i, noise(t))) for i, t in zip(ids, texts)]
    write_docs(os.path.join(out, "docs"), ids, texts, CURATE_PARTS)
    return {"docs": CURATE_DOCS}


def gen_dedup(docs, out):
    write_docs(os.path.join(out, "docs"), docs[0][:DEDUP_DOCS], docs[1][:DEDUP_DOCS],
               DEDUP_PARTS)
    return {"docs": DEDUP_DOCS}


def gen_ingest(docs, out, trickle_docs):
    """The first INGEST_CORPUS documents are indexed, the next ones are posted
    in id order (cold backlog, trickle, warm backlog), so GenData's copies
    of documents 991 and 997 ids earlier reach back into the indexed corpus.
    The benchmark set of the contamination gate is every tenth corpus
    document, the share q129 holds out as its test split."""
    ids, texts = docs
    n = INGEST_CORPUS + 2 * INGEST_BACKLOG + trickle_docs
    if n > len(texts):
        raise RuntimeError(f"the ingest stream needs {n} documents, the corpus has {len(texts)}")
    corpus = texts[:INGEST_CORPUS]
    bench = [t for i, t in enumerate(corpus) if i % 10 == 9]
    stream = texts[INGEST_CORPUS:n]
    write_docs(os.path.join(out, "corpus"), ids[:INGEST_CORPUS], corpus, 4)
    write_docs(os.path.join(out, "bench"), list(range(len(bench))), bench, 1)
    write_docs(os.path.join(out, "stream"), list(range(len(stream))), stream, 1)
    with open(os.path.join(out, "stream.json"), "w") as f:
        json.dump({"backlog": INGEST_BACKLOG, "rate": INGEST_RATE, "docs": stream}, f)
    return {"corpus": INGEST_CORPUS, "bench": len(bench),
            "backlog": INGEST_BACKLOG, "trickle": trickle_docs}


def trickle_docs(seconds):
    return int(round(INGEST_RATE * seconds))


def generate(workload, docs, out, seconds):
    """Write the inputs of one workload under `out` from the seed's corpus
    `docs` (see `corpus`)."""
    os.makedirs(out, exist_ok=True)
    if workload == "curate":
        return gen_curate(docs, out)
    if workload == "dedup":
        return gen_dedup(docs, out)
    return gen_ingest(docs, out, trickle_docs(seconds))
