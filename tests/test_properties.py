"""Property-based tests (hypothesis): invariants that must hold for ANY
input text — span exactness, content reconstruction, chunk round-trips.
Examples are batched into one DataFrame per case so each property costs a
single Spark job."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from translator_tm_provider_pipelines_spark import schemas
from translator_tm_provider_pipelines_spark.operators import ner, sentences, versioning

# texts with the characters that stress the marker-insert machinery:
# boundaries, newlines, unicode, the marker char itself is excluded (U+001E
# never occurs in documents; segmentation treats it as reserved)
_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x1e", exclude_categories=("Cs",)
    ),
    max_size=200,
)

_SETTINGS = dict(max_examples=8, deadline=None)


@settings(**_SETTINGS)
@example(["\r\x85"])  # Java $ matches before a final NEL line terminator
@given(st.lists(_text, min_size=1, max_size=20))
def test_segmentation_spans_reconstruct(spark, texts):
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, content string"
    )
    rows = sentences.segment_sentences(docs).collect()
    by_doc = {}
    for r in rows:
        src = texts[int(r.doc_id)]
        # span exactness
        assert src[r.start:r.end] == r.sentence
        # no empty sentences, no leading/trailing whitespace (Java's \s
        # class — Python's str.strip() is wider, e.g. \x1f)
        java_ws = " \t\n\r\x0b\x0c"
        assert r.sentence == r.sentence.strip(java_ws) and r.sentence != ""
        by_doc.setdefault(r.doc_id, []).append(r)
    # sentences are ordered and non-overlapping
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r.sent_idx)
        for a, b in zip(doc_rows, doc_rows[1:]):
            assert a.end <= b.start


@settings(**_SETTINGS)
@given(st.lists(_text, min_size=1, max_size=20))
def test_tokenizer_spans_exact(spark, texts):
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, content string"
    )
    for r in ner.tokenize_with_offsets(docs).collect():
        src = texts[int(r.doc_id)]
        assert src[r.start:r.end] == r.token
        assert r.token.isalnum() or all(c.isalnum() for c in r.token)


@settings(**_SETTINGS)
@given(st.text(min_size=1, max_size=5000), st.integers(min_value=64, max_value=2048))
def test_chunk_splice_roundtrip(spark, text, max_bytes):
    df = spark.createDataFrame(
        [("d", "TEXT", "TEXT", "P", "0.1.0", text, 0, 1, ["C"])],
        schema=schemas.DOCUMENT,
    )
    chunked = versioning.chunk_content(df, max_bytes=max_bytes)
    out = versioning.splice_chunks(chunked).collect()[0]
    assert out.content == text


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.text(max_size=30), st.sampled_from(["0.1.0", "0.2", "1", "recent", ""])),
        min_size=1,
        max_size=10,
    )
)
def test_semantic_version_total_order(spark, pairs):
    df = spark.createDataFrame(
        [(v,) for _, v in pairs], "pipeline_version string"
    ).select("pipeline_version", versioning.semantic_version("pipeline_version").alias("sv"))
    for r in df.collect():
        assert r.sv >= 0  # parse never fails, garbage sorts lowest


def test_connected_components_properties(spark):
    """Connected components: every node labeled by its
    component minimum; chain graphs (worst diameter) converge; singleton
    pairs map to their smaller end."""
    from translator_tm_provider_pipelines_spark.operators import dedup

    # a chain 0-1-2-...-9 plus a separate triangle {20,21,22}
    chain = [(i, i + 1) for i in range(9)]
    tri = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    comp = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert all(comp[i] == 0 for i in range(10))
    assert all(comp[i] == 20 for i in (20, 21, 22))
    # the distributed star-iteration path (driver_threshold=0) must
    # produce the identical labeling as the driver union-find fast path
    dist = {
        r.node: r.component
        for r in dedup.connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == comp


def _java_split_space_len(s: str) -> int:
    """Reference model of Java String.split(" ").length: split on every
    single space, then drop trailing empty strings; ''.split -> [''] = 1."""
    parts = s.split(" ")
    while len(parts) > 1 and parts[-1] == "":
        parts.pop()
    if parts == [""] and s != "":
        return 0  # all-separator input: Java drops every trailing empty
    return len(parts)


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet=" ab\tz", max_size=20), min_size=1, max_size=30))
def test_java_space_token_count_matches_model(spark, texts):
    from pyspark.sql import functions as F

    from translator_tm_provider_pipelines_spark.operators import semmed

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [
        r.n
        for r in df.select(semmed.java_space_token_count(F.col("t")).alias("n"))
        .collect()
    ]
    # row order of createDataFrame is preserved for a single partition read
    want = [_java_split_space_len(t) for t in texts]
    assert sorted(got) == sorted(want)


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=60), min_size=1, max_size=12))
def test_top_bigram_sorted_runs_match_brute_force(spark, texts):
    """The sorted-run top-bigram (O(B log B)) must agree with a brute-force
    python count (max count, lexicographically-smallest tie-break)."""
    import re
    from collections import Counter

    from translator_tm_provider_pipelines_spark.operators import textanalysis

    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    rows = {r.doc_id: r for r in textanalysis.repetition_metrics(docs).collect()}
    for i, t in enumerate(texts):
        words = re.findall(r"[a-z0-9]+", t.lower())
        bigrams = [" ".join(words[j : j + 2]) for j in range(len(words) - 1)]
        row = rows[str(i)]
        if not bigrams:
            continue
        counts = Counter(bigrams)
        best_cnt = max(counts.values())
        best_bg = min(b for b, c in counts.items() if c == best_cnt)
        total_chars = sum(len(w) for w in words)
        want = round(best_cnt * (len(best_bg) - 1) / total_chars, 8) if total_chars else 0.0
        assert row.top_bigram_char_frac == want, (t, best_bg, best_cnt)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8",
                    exclude_characters="\x1e\n",
                    exclude_categories=("Cs",),
                ),
                max_size=40,
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_paragraph_dedup_idempotent_and_counted(spark, doc_paras):
    """Invariants for ANY corpus: (1) every surviving paragraph string is
    globally unique among the >= min_chars population, (2) n_kept <=
    n_paragraphs, (3) re-running dedup on its own output keeps everything
    (idempotence)."""
    from translator_tm_provider_pipelines_spark.operators import dedup

    docs = spark.createDataFrame(
        [(f"d{i:03d}", "\n\n".join(ps)) for i, ps in enumerate(doc_paras)],
        "doc_id string, text string",
    )
    docs = docs.where("length(trim(text)) > 0")
    if docs.count() == 0:
        return
    out = dedup.paragraph_dedup(docs, min_chars=3)
    rows = out.collect()
    seen = []
    for r in rows:
        assert r.n_kept <= r.n_paragraphs
        for para in (p for p in r.text.split("\n\n") if p):
            if len(para) >= 3:
                seen.append(para)
    assert len(seen) == len(set(seen))  # no surviving duplicates
    again = dedup.paragraph_dedup(
        out.select("doc_id", "text"), min_chars=3
    ).collect()
    assert all(r.n_kept == r.n_paragraphs for r in again)


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=4),
)
def test_pack_sequences_matches_reference(spark, tokens, capacity, n_shards):
    from translator_tm_provider_pipelines_spark.operators import training as tr

    rows = [(i, t) for i, t in enumerate(tokens)]
    docs = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    got = {
        r.doc_id: (r.shard, r.start_block, r.block_offset, r.n_blocks_spanned)
        for r in tr.pack_sequences(docs, capacity=capacity, n_shards=n_shards).collect()
    }
    # pure-Python reference: concat per shard in id order, chunk by capacity
    cursors = {}
    for i, t in rows:
        sh = i % n_shards
        start = cursors.get(sh, 0)
        cursors[sh] = start + t
        end = start + t
        expected = (
            sh,
            start // capacity,
            start % capacity,
            ((end - 1) // capacity - start // capacity + 1) if t > 0 else 0,
        )
        assert got[i] == expected, (i, got[i], expected)
        assert 0 <= got[i][2] < capacity


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="abc \n", min_size=0, max_size=60), min_size=1, max_size=8
    ),
    st.integers(min_value=2, max_value=8),
)
def test_repeated_kgram_spans_match_reference(spark, texts, k):
    from translator_tm_provider_pipelines_spark.operators import dedup

    stride = max(1, k // 2)
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {}
    for r in dedup.repeated_kgram_spans(docs, k=k, stride=stride).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # brute-force reference over the raw window strings
    from collections import Counter

    occ = Counter()
    windows = {}
    for i, t in enumerate(texts):
        ws = [
            (p, t[p : p + k])
            for p in range(0, len(t) - k + 1, stride)
        ] if len(t) >= k else []
        windows[i] = ws
        for _, g in ws:
            occ[g] += 1
    want = {}
    for i, ws in windows.items():
        dup_pos = [p for p, g in ws if occ[g] >= 2]
        spans = []
        for p in dup_pos:
            if spans and p <= spans[-1][1]:  # overlap/adjacent: end exclusive
                spans[-1] = (spans[-1][0], p + k)
            else:
                spans.append((p, p + k))
        if spans:
            want[i] = spans
    assert {i: sorted(v) for i, v in got.items()} == want


# ---------------------------------------------------------------------------
# NetPBM codec properties (pure Python — no Spark session needed)
# ---------------------------------------------------------------------------

_dims = st.integers(min_value=1, max_value=24)


@settings(max_examples=25, deadline=None)
@given(_dims, _dims, st.integers(min_value=0, max_value=2**31 - 1))
def test_netpbm_roundtrip_and_identity_resize(w, h, seed):
    """encode → parse is lossless; resizing to the SAME dims is the
    identity (nearest-neighbor index math must not drift); features stay
    in [0, 1] and have exactly FEATURE_DIM entries for any image size."""
    import numpy as np

    from translator_tm_provider_pipelines_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    magic, pw, ph, maxval, out = MM._parse_netpbm(payload)
    assert (magic, pw, ph, maxval) == ("P6", w, h, 255)
    assert np.array_equal(out, px)

    same = MM.netpbm_resizer(payload, None, w, h)
    _, _, _, _, again = MM._parse_netpbm(same["payload"])
    assert np.array_equal(again, px)
    assert (same["src_width"], same["src_height"]) == (w, h)

    d = MM.netpbm_decoder(payload, None)
    assert len(d["features"]) == MM.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in d["features"])


@settings(max_examples=25, deadline=None)
@given(_dims, _dims, _dims, _dims, st.integers(min_value=0, max_value=2**31 - 1))
def test_netpbm_resize_matches_numpy_sampling(sw, sh, tw, th, seed):
    import numpy as np

    from translator_tm_provider_pipelines_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(sh, sw, 3), dtype=np.uint8)
    payload = f"P6\n{sw} {sh}\n255\n".encode() + px.tobytes()
    r = MM.netpbm_resizer(payload, None, tw, th)
    _, w2, h2, _, out = MM._parse_netpbm(r["payload"])
    assert (w2, h2) == (tw, th)
    yi = np.minimum((np.arange(th) * sh) // th, sh - 1)
    xi = np.minimum((np.arange(tw) * sw) // tw, sw - 1)
    assert np.array_equal(out, px[yi][:, xi])
