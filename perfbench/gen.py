"""Seeded input generators for the end-to-end benchmark.

Every generator takes the run's seed and writes plain files; the program
under test only ever sees those files. The same seed gives byte-identical
inputs. ``workloads.py`` runs the generators in a child process
(``python3 perfbench/gen.py pubmed|mixed DEST SEED N_DOCS [N_BATCHES]``), so
their memory does not count in the benchmark process's peak RSS.

Two corpora:

- a synthetic PubMed corpus (gzipped ``PubmedArticleSet`` XML) plus the
  OGER dictionary (``term, concept_id`` parquet). Concept mentions are
  Zipf-distributed over the dictionary. Filler words and dictionary term
  tokens are drawn from disjoint letter sets, so filler text can never match
  a term: when the two vocabularies shared tokens, concepts per document
  went from ~38 to ~316 and distinct pairs from 4.2M to 1.04e9 at 20k
  abstracts. The generator also writes the true (doc, concept) set, the
  oracle for the NER half of the chain;
- a mixed-duplicate corpus built by ``scripts/make_mixed_data.py`` (Zipf
  cluster sizes 2-10 over 20% of documents, spliced-half uniques, md5-
  permuted ids) from a seeded pool of synthetic seed texts, plus a
  deterministic ``quality`` column for the keep-best pipelines.
"""

from __future__ import annotations

import bisect
import gzip
import json
import os
import random
import subprocess
import sys

import duckdb
import pandas as pd

from layers import tree_bytes

# Filler words use these letters only; term tokens always contain one of
# TERM_MARK, so no filler word equals a term token.
_FILLER_CONS = "bdfgklmnprst"
_VOWELS = "aeiou"
_TERM_CONS = "bdfgklmnprst" + "vz"
_TERM_MARK = "vz"
_ONTOLOGIES = ("CHEBI", "MONDO", "HP", "UBERON", "GO", "CL", "PR", "NCBITaxon")

N_CONCEPTS = 3000  # dictionary terms
N_FILES = 8  # gzipped XML files the abstracts are spread over
ZIPF_S = 1.05  # exponent of the concept-mention distribution
DUP_FRAC = 0.2  # share of mixed-corpus documents in planted clusters

ARTICLE = """  <PubmedArticle>
    <MedlineCitation>
      <PMID Version="1">{pmid}</PMID>
      <Article>
        <Journal><JournalIssue><PubDate><Year>{year}</Year></PubDate></JournalIssue></Journal>
        <ArticleTitle>{title}</ArticleTitle>
        <Abstract><AbstractText>{abstract}</AbstractText></Abstract>
      </Article>
    </MedlineCitation>
  </PubmedArticle>"""


def _word(rng: random.Random, cons: str, syllables: int) -> str:
    return "".join(rng.choice(cons) + rng.choice(_VOWELS) for _ in range(syllables))


def _vocabulary(rng: random.Random, n: int, make) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = make()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _term_token(rng: random.Random) -> str:
    # >= 6 letters (CONCEPT_POST_PROCESS drops matches shorter than 4) and
    # one marker consonant, so it is never a filler word
    w = _word(rng, _TERM_CONS, rng.randint(3, 4))
    i = 2 * rng.randrange(len(w) // 2)
    return w[:i] + rng.choice(_TERM_MARK) + w[i + 1 :]


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, cdf = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        cdf.append(acc)
    return [c / acc for c in cdf]


def make_pubmed(dest: str, seed: int, n_docs: int) -> dict:
    """Write ``dest/xml/*.xml.gz``, ``dest/dict`` (parquet) and the true
    (text_id, concept_id) relation ``dest/truth`` (parquet); return the
    input properties."""
    rng = random.Random(seed)
    filler = _vocabulary(
        rng, 4000, lambda: _word(rng, _FILLER_CONS, rng.randint(1, 4))
    )
    tokens = _vocabulary(rng, N_CONCEPTS, lambda: _term_token(rng))
    # a quarter of the terms are two-token; half of those end in another
    # term's token, so the nested single-token match must be dropped by
    # CONCEPT_POST_PROCESS ("liver fibrosis" vs "fibrosis")
    terms: list[str] = []
    for i, t in enumerate(tokens):
        if i % 4 == 3:
            tail = tokens[rng.randrange(i)] if i % 8 == 7 else _term_token(rng)
            terms.append(f"{t} {tail}")
        else:
            terms.append(t)
    ids = [f"{_ONTOLOGIES[i % len(_ONTOLOGIES)]}:{i:07d}" for i in range(N_CONCEPTS)]
    # Zipf rank order is a seeded permutation, so the head concepts vary by seed
    rank = list(range(N_CONCEPTS))
    rng.shuffle(rank)
    cdf = _zipf_cdf(N_CONCEPTS, ZIPF_S)

    def filler_run(lo: int, hi: int) -> list[str]:
        return [rng.choice(filler) for _ in range(rng.randint(lo, hi))]

    truth: list[tuple[str, str]] = []
    n_sentences = 0
    xml_dir = os.path.join(dest, "xml")
    os.makedirs(xml_dir, exist_ok=True)
    per_file = -(-n_docs // N_FILES)
    for f in range(N_FILES):
        articles = []
        for pmid in range(f * per_file + 1, min(n_docs, (f + 1) * per_file) + 1):
            concepts: set[str] = set()
            sents = []
            for _ in range(rng.randint(4, 9)):
                words = filler_run(2, 5)
                for _ in range(rng.randint(1, 4)):
                    c = rank[bisect.bisect_left(cdf, rng.random())]
                    concepts.add(ids[c])
                    # filler on both sides: adjacent mentions could form
                    # an unintended multi-token term
                    words += [terms[c]] + filler_run(1, 4)
                sents.append(" ".join(words).capitalize() + ".")
            n_sentences += len(sents) + 1  # + the title sentence
            title = " ".join(filler_run(4, 9)).capitalize() + "."
            articles.append(
                ARTICLE.format(
                    pmid=pmid, year=1990 + pmid % 30, title=title, abstract=" ".join(sents)
                )
            )
            truth.extend((f"PMID:{pmid}", c) for c in sorted(concepts))
        xml = '<?xml version="1.0"?>\n<PubmedArticleSet>\n{}\n</PubmedArticleSet>\n'.format(
            "\n".join(articles)
        )
        with open(os.path.join(xml_dir, f"part-{f:03d}.xml.gz"), "wb") as fh:
            fh.write(gzip.compress(xml.encode(), mtime=0))  # mtime=0: same seed, same bytes

    con = duckdb.connect()
    con.register("d", pd.DataFrame({"term": terms, "concept_id": ids}))
    os.makedirs(os.path.join(dest, "dict"), exist_ok=True)
    con.execute(f"COPY d TO '{dest}/dict/part-0.parquet' (FORMAT parquet)")
    con.register("truth", pd.DataFrame(truth, columns=["text_id", "concept_id"]))
    os.makedirs(os.path.join(dest, "truth"), exist_ok=True)
    con.execute(f"COPY truth TO '{dest}/truth/part-0.parquet' (FORMAT parquet)")
    pairs = con.sql(
        "SELECT count(*) FROM (SELECT DISTINCT a.concept_id, b.concept_id FROM truth a "
        "JOIN truth b ON a.text_id = b.text_id AND a.concept_id < b.concept_id)"
    ).fetchone()[0]
    con.close()
    return {
        "docs": n_docs,
        "input_mb": tree_bytes(xml_dir) / 1e6,
        "sentences": n_sentences,
        "concepts_per_doc": len(truth) / n_docs,
        "distinct_pairs": pairs,
        "dictionary_terms": N_CONCEPTS,
    }


def make_mixed(dest: str, seed: int, n_docs: int, n_batches: int) -> dict:
    """Write the mixed-duplicate corpus ``dest/docs`` (doc_id, text, quality),
    its ``dest/quality`` side table and ``dest/batch-<i>`` slices; return the
    input properties. The corpus itself comes from
    ``scripts/make_mixed_data.py``, fed a seeded pool of seed texts (one pool
    text per 10 documents, the ratio of a 50k-doc build over the
    5,000-text sf0.1 pool)."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 20000, lambda: _word(rng, _FILLER_CONS + "vz", rng.randint(2, 4)))
    pool_dir = os.path.join(dest, "pool")
    os.makedirs(pool_dir, exist_ok=True)
    n_pool = max(n_docs // 10, 50)
    con = duckdb.connect()
    con.register("pool", pd.DataFrame({
        "doc_id": range(n_pool),
        "text": [" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 90))) for _ in range(n_pool)],
    }))
    con.execute(f"COPY pool TO '{pool_dir}/documents.parquet' (FORMAT parquet)")
    raw = os.path.join(dest, "raw")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [
            sys.executable, os.path.join(root, "scripts", "make_mixed_data.py"),
            "--src", pool_dir, "--dest", raw, "--n-docs", str(n_docs),
            "--dup-frac", str(DUP_FRAC), "--seed", str(seed),
        ],
        check=True,
        capture_output=True,
        timeout=120,
    )
    # quality: a seeded hash of the id, so the kept member is not simply
    # the smallest id of its cluster
    con.execute(
        f"CREATE TABLE docs AS SELECT doc_id, text, "
        f"CAST(hash(doc_id, {seed}) % 1000 AS INTEGER) AS quality "
        f"FROM '{raw}/documents.parquet' ORDER BY doc_id"
    )
    # make_mixed_data.py ends every planted cluster member with ' c<k> #m<j>'
    dup_members, clusters = con.sql(
        "SELECT count(*), count(DISTINCT regexp_extract(text, ' c([0-9]+) #m[0-9]+$', 1)) "
        "FROM docs WHERE regexp_matches(text, ' c[0-9]+ #m[0-9]+$')"
    ).fetchone()
    for sub in ("docs", "quality"):
        os.makedirs(os.path.join(dest, sub), exist_ok=True)
    con.execute(f"COPY docs TO '{dest}/docs/part-0.parquet' (FORMAT parquet)")
    con.execute(
        f"COPY (SELECT doc_id, quality FROM docs ORDER BY doc_id) TO '{dest}/quality/part-0.parquet' "
        "(FORMAT parquet)"
    )
    # batch b takes every id = b mod n; ids are an md5 permutation, so each
    # batch carries a slice of every cluster (late arrivals to old clusters)
    for b in range(n_batches):
        os.makedirs(os.path.join(dest, f"batch-{b}"), exist_ok=True)
        con.execute(
            f"COPY (SELECT doc_id, text FROM docs WHERE doc_id % {n_batches} = {b} ORDER BY doc_id) "
            f"TO '{dest}/batch-{b}/part-0.parquet' (FORMAT parquet)"
        )
    con.close()
    return {
        "docs": n_docs,
        "input_mb": tree_bytes(os.path.join(dest, "docs")) / 1e6,
        "duplicate_frac": dup_members / n_docs,
        "planted_members": dup_members,
        "planted_clusters": clusters,
        "batches": n_batches,
    }


def generate(kind: str, dest: str, seed: int, n_docs: int, n_batches: int = 0) -> dict:
    """Run ``make_pubmed`` or ``make_mixed`` in a child process; return the
    input properties."""
    argv = [sys.executable, os.path.abspath(__file__), kind, dest, str(seed), str(n_docs)]
    out = subprocess.run(
        argv + ([str(n_batches)] if kind == "mixed" else []),
        check=True, capture_output=True, text=True, timeout=150,
    ).stdout
    return json.loads(out.splitlines()[-1])


if __name__ == "__main__":
    kind, dest, *nums = sys.argv[1:]
    make = {"pubmed": make_pubmed, "mixed": make_mixed}[kind]
    print(json.dumps(make(dest, *map(int, nums))))
