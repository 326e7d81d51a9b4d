"""The benchmark workloads: their inputs, their CLI chains and the
output checks that run after the timed region.

Each chain is a list of steps. A ``Stage`` is one timed ``cli.main`` call; a
``Prep`` is untimed glue the chain needs between stages. ``check`` returns,
per pipeline key, the reason its output is wrong, or nothing when it is right.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb

from translator_tm_provider_pipelines_spark.plans.testdata_queries import _UC_SQL, ORACLES

import gen

STORE_CRITERIA = "TEXT|TEXT|MEDLINE_XML_TO_TEXT|recent"
# near-dup settings shared by the batch and the incremental chain; equal
# settings make their keep lists equal
NEAR_DUP_CAP = "8"
REPAIR_HOPS = "1"


@dataclass
class Stage:
    key: str
    argv: list[str]
    # paths the stage writes as its final output (the rest of the bytes its
    # tasks write are staging)
    outputs: list[str] = field(default_factory=list)


@dataclass
class Prep:
    run: Callable[[], None]


def parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class KgBuild:
    """MEDLINE XML → … → cooccurrence metrics, IDF and sentence export."""

    def __init__(self, spark, root: str, seed: int, n_docs: int) -> None:
        self.spark = spark
        self.inp = os.path.join(root, "input")
        self.props = gen.generate("pubmed", self.inp, seed, n_docs)
        self.truth = set(duckdb.sql(
            f"SELECT text_id, concept_id FROM {parquet(os.path.join(self.inp, 'truth'))}"
        ).fetchall())

    def chain(self, it: str) -> list:
        p = lambda name: os.path.join(it, name)  # noqa: E731
        return [
            Stage("MEDLINE_XML_TO_TEXT", [
                "--xml", os.path.join(self.inp, "xml"), "--output", p("medline"),
                "--documentsStore", p("docstore"), "--statusStore", p("status0"),
            ], [p("medline"), p("docstore"), p("status0")]),
            Stage("SENTENCE_SEGMENTATION", [
                "--documents", p("docstore"), "--status", p("status0"),
                "--output", p("sents"), "--failures", p("segfail"),
                "--inputDocumentCriteria", STORE_CRITERIA,
                "--requiredProcessingStatusFlags", "TEXT_DONE",
                "--targetProcessingStatusFlag", "SENTENCE_DONE",
                "--collection", "PUBMED",
            ], [p("sents"), p("segfail")]),
            Stage("UPDATE_STATUS_FLAGS", [
                "--status", p("status0"), "--processed", p("sents"),
                "--flag", "SENTENCE_DONE", "--output", p("status1"),
            ], [p("status1")]),
            Stage("OGER", [
                "--documents", p("docstore"), "--status", p("status1"),
                "--inputDocumentCriteria", STORE_CRITERIA,
                "--requiredProcessingStatusFlags", "TEXT_DONE|SENTENCE_DONE",
                "--targetProcessingStatusFlag", "OGER_DONE",
                "--collection", "PUBMED",
                "--dictionary", os.path.join(self.inp, "dict"), "--output", p("annots"),
            ], [p("annots")]),
            Stage("CONCEPT_POST_PROCESS", [
                "--annotations", p("annots"), "--output", p("clean"), "--lengthThreshold", "4",
            ], [p("clean")]),
            Stage("CONCEPT_COOCCURRENCE_COUNTS", [
                "--annotations", p("clean"), "--output", p("uc"),
            ], [p("uc")]),
            Stage("CONCEPT_COOCCURRENCE_METRICS", [
                "--unitConcepts", p("uc"), "--output", p("metrics"),
            ], [p("metrics")]),
            Stage("CONCEPT_IDF", ["--unitConcepts", p("uc"), "--output", p("idf")], [p("idf")]),
            Prep(lambda: self._flatten(it)),
            Stage("SENTENCE_COOCCURRENCE_EXPORT", [
                "--sentences", p("flat_sents"), "--concepts", p("flat_concepts"),
                "--output", p("export"),
            ], [p("export")]),
        ]

    def _flatten(self, it: str) -> None:
        """The export takes flat (doc_id, start, end, ...) rows; the chain
        stores annotation rows with a span array."""
        for src, dst, cols in (
            ("sents", "flat_sents", "doc_id, covered_text"),
            ("clean", "flat_concepts", "doc_id, concept_id, covered_text"),
        ):
            self.spark.read.parquet(os.path.join(it, src)).selectExpr(
                *cols.split(", "), "spans[0].start AS start", "spans[0].`end` AS `end`"
            ).write.mode("overwrite").parquet(os.path.join(it, dst))

    def check(self, it: str) -> dict[str, str]:
        p = lambda name: parquet(os.path.join(it, name))  # noqa: E731
        con = duckdb.connect()
        bad: dict[str, str] = {}
        n = self.props["docs"]
        one = lambda sql: con.sql(sql).fetchone()  # noqa: E731

        if one(f"SELECT count(*), count(DISTINCT doc_id) FROM {p('docstore')}") != (n, n):
            bad["MEDLINE_XML_TO_TEXT"] = "document store does not hold every article once"
        got = one(f"SELECT count(*), count(DISTINCT doc_id) FROM {p('sents')}")
        if got != (self.props["sentences"], n) or one(f"SELECT count(*) FROM {p('segfail')}")[0]:
            bad["SENTENCE_SEGMENTATION"] = f"sentences/docs {got}, want {self.props['sentences']}/{n}"
        done = "list_contains(map_extract(flags, 'SENTENCE_DONE'), true)"
        if one(f"SELECT count(*) FROM {p('status1')} WHERE {done}")[0] != n:
            bad["UPDATE_STATUS_FLAGS"] = "SENTENCE_DONE not set on every document"

        def pairs(name: str, id_col: str) -> set[tuple[str, str]]:
            return set(con.sql(
                f"SELECT DISTINCT {id_col}, concept_id FROM {p(name)} WHERE concept_id IS NOT NULL"
            ).fetchall())

        if not self.truth <= pairs("annots", "doc_id"):
            bad["OGER"] = "a generated concept mention was not recognised"
        if pairs("clean", "doc_id") != self.truth:
            bad["CONCEPT_POST_PROCESS"] = "post-processed concepts differ from the generated ones"
        uc_rows = one(f"SELECT count(*) FROM {p('uc')}")[0]
        if pairs("uc", "text_id") != self.truth or uc_rows != len(self.truth):
            bad["CONCEPT_COOCCURRENCE_COUNTS"] = "unit-concept rows differ from the generated ones"

        # DuckDB parity: the registry oracles, pointed at the chain's table;
        # doubles agree to 1e-6 relative (the oracle rounds to 8 places)
        uc_sql = f"uc AS (SELECT text_id, concept_id FROM {p('uc')})"
        for key, oracle, out, keys in (
            ("CONCEPT_COOCCURRENCE_METRICS", "cooccurrence_metrics", "metrics", ["concept1", "concept2"]),
            ("CONCEPT_IDF", "concept_idf", "idf", ["concept_id"]),
        ):
            want = con.sql(ORACLES[oracle].replace(_UC_SQL.strip(), uc_sql))
            con.register("want", want)
            same = " AND ".join(
                f"abs(w.{c} - g.{c}) <= 1e-6 * greatest(1, abs(w.{c}))"
                if str(t) in ("DOUBLE", "FLOAT") else f"w.{c} = g.{c}"
                for c, t in zip(want.columns, want.types)
                if c not in keys
            )
            on = " AND ".join(f"w.{c} = g.{c}" for c in keys)
            diff, rows = one(
                f"SELECT count(*) FILTER (WHERE w.{keys[0]} IS NULL OR g.{keys[0]} IS NULL "
                f"OR NOT ({same})), count(*) FROM want w FULL JOIN {p(out)} g ON {on}"
            )
            if diff or not rows:
                bad[key] = f"{diff} of {rows} rows differ from the DuckDB oracle"
            con.unregister("want")

        # one blob per document, whose SENT_COUNT header counts its sentences
        headers = []
        for path in glob.glob(os.path.join(it, "export", "part-*")):
            with open(path) as fh:
                headers += [ln.split("\t") for ln in fh if ln.startswith("SENT_COUNT\t")]
        if len(headers) != n or sum(int(h[1]) for h in headers) != self.props["sentences"]:
            bad["SENTENCE_COOCCURRENCE_EXPORT"] = (
                f"{len(headers)} document headers, want {n} covering all sentences"
            )
        con.close()
        return bad


def keep_list_faults(con, table: str, quality: str, n_docs: int) -> list[str]:
    """Invariants of a keep-best list: every document once; one kept_id per
    cluster, itself kept, with the cluster's highest quality."""
    faults = []
    if con.sql(f"SELECT count(*), count(DISTINCT doc_id) FROM {table}").fetchone() != (n_docs, n_docs):
        faults.append("not every document listed exactly once")
    orphan = con.sql(
        f"SELECT count(*) FROM {table} a LEFT JOIN {table} b ON a.kept_id = b.doc_id "
        "WHERE b.doc_id IS NULL OR NOT b.is_kept"
    ).fetchone()[0]
    if orphan:
        faults.append(f"{orphan} rows point at a kept_id that is not kept")
    bad_clusters = con.sql(
        f"SELECT count(*) FROM (SELECT k.canonical_id FROM {table} k "
        f"JOIN {quality} q ON q.doc_id = k.doc_id JOIN {quality} kq ON kq.doc_id = k.kept_id "
        "GROUP BY k.canonical_id "
        "HAVING count(DISTINCT k.kept_id) > 1 OR max(q.quality) <> max(kq.quality))"
    ).fetchone()[0]
    if bad_clusters:
        faults.append(f"{bad_clusters} clusters do not keep one best-quality member")
    return faults


# Floors for the planted-cluster check. At 4,000 docs (seeds 1-8) 98.9-99.6%
# of planted members shared a canonical_id with a cluster-mate (the misses
# are the shortest texts, under the similarity threshold), and 0-6 docs
# sat in a cluster mixing planted groups or uniques.
MIN_MERGED_FRAC = 0.97
MAX_STRAY_FRAC = 0.01


def planted_faults(con, table: str, docs: str, props: dict) -> list[str]:
    """The keep list against the clusters the generator planted
    (make_mixed_data.py ends every member's text with ' c<k> #m<j>'):
    nearly every planted member shares its ``canonical_id`` with a
    cluster-mate, and nearly no cluster joins documents of different
    planted groups or unique documents."""
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE planted AS SELECT k.doc_id, k.canonical_id, "
        f"regexp_extract(d.text, ' c([0-9]+) #m[0-9]+$', 1) AS grp "
        f"FROM {table} k JOIN {docs} d USING (doc_id)"
    )
    merged = con.sql(
        "SELECT count(DISTINCT a.doc_id) FROM planted a JOIN planted b "
        "ON a.grp = b.grp AND a.canonical_id = b.canonical_id AND a.doc_id <> b.doc_id "
        "WHERE a.grp <> ''"
    ).fetchone()[0]
    stray = con.sql(
        "SELECT coalesce(sum(n), 0) FROM (SELECT count(*) AS n FROM planted "
        "GROUP BY canonical_id HAVING count(*) > 1 "
        "AND (count(DISTINCT grp) > 1 OR min(grp) = ''))"
    ).fetchone()[0]
    faults = []
    if merged < MIN_MERGED_FRAC * props["planted_members"]:
        faults.append(f"{merged} of {props['planted_members']} planted duplicates found")
    if stray > MAX_STRAY_FRAC * props["docs"]:
        faults.append(f"{stray} docs clustered with documents of another group")
    return faults


class NearDup:
    """Quality-aware near-dup keep list over the mixed-duplicate corpus by
    the batch pipeline. ``incremental_chain`` builds the same list through
    the persisted incremental index; traced runs run it once, untimed, and
    every keep list must then equal its list. Untimed runs compare every
    pass against the first, and every list must satisfy the keep-list
    invariants."""

    def __init__(self, root: str, seed: int, n_docs: int, batches: int) -> None:
        self.inp = os.path.join(root, "input")
        self.batches = batches
        self.props = gen.generate("mixed", self.inp, seed, n_docs, batches)
        self.reference: str | None = None  # keep list every pass must equal

    def chain(self, it: str) -> list:
        keep = os.path.join(it, "keep")
        return [Stage("NEAR_DUP_KEEP_BEST", [
            "--documents", os.path.join(self.inp, "docs"), "--output", keep,
            "--qualityColumn", "quality", "--maxBucketSize", NEAR_DUP_CAP,
            "--oversizePolicy", "star", "--starRepairHops", REPAIR_HOPS,
        ], [keep])]

    def incremental_chain(self, it: str) -> list:
        idx, keep = os.path.join(it, "idx"), os.path.join(it, "keep")
        steps: list = [
            Stage("NEAR_DUP_INDEX_UPDATE", [
                "--newDocs", os.path.join(self.inp, f"batch-{b}"), "--indexDir", idx,
                "--batchId", str(b), "--maxBucketSize", NEAR_DUP_CAP,
                "--oversizePolicy", "star",
            ], [idx])
            for b in range(self.batches)
        ]
        return steps + [
            Stage("NEAR_DUP_INDEX_RECONCILE", [
                "--indexDir", idx, "--maxBucketSize", NEAR_DUP_CAP, "--repairHops", REPAIR_HOPS,
            ], [idx]),
            Stage("NEAR_DUP_INDEX_KEEP_BEST", [
                "--indexDir", idx, "--quality", os.path.join(self.inp, "quality"),
                "--qualityColumn", "quality", "--output", keep,
            ], [keep]),
        ]

    def check(self, it: str) -> dict[str, str]:
        incremental = os.path.isdir(os.path.join(it, "idx"))
        key = "NEAR_DUP_INDEX_KEEP_BEST" if incremental else "NEAR_DUP_KEEP_BEST"
        keep = os.path.join(it, "keep")
        con = duckdb.connect()
        got = parquet(keep)
        quality = parquet(os.path.join(self.inp, "quality"))
        faults = keep_list_faults(con, got, quality, self.props["docs"])
        faults += planted_faults(con, got, parquet(os.path.join(self.inp, "docs")), self.props)
        if self.reference not in (None, keep):
            ref = parquet(self.reference)
            cols = "doc_id, canonical_id, kept_id, is_kept"
            diff = con.sql(
                f"SELECT count(*) FROM ((SELECT {cols} FROM {got} EXCEPT SELECT {cols} FROM {ref}) "
                f"UNION ALL (SELECT {cols} FROM {ref} EXCEPT SELECT {cols} FROM {got}))"
            ).fetchone()[0]
            if diff:
                faults.append(f"{diff} rows differ from the reference keep list")
        con.close()
        return {key: "; ".join(faults)} if faults else {}
