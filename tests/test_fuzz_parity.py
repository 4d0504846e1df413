"""Property-fuzz the cross-engine parity convention itself.

The graded gates run the oracles against the driver's fixed synthetic
corpus; this harness runs the SAME query + oracle SQL pairs over
RANDOMIZED tiny corpora (hypothesis-driven: adversarial word shapes,
empty/whitespace-only documents, single-char and repeated tokens,
boundary doc counts) so the parity conventions (shared 60-bit hash,
DECIMAL sums, round6, NULL edges) are exercised off the happy path.

Alphabet is printable ASCII lowercase+digits+space — the graded
envelope. (Unicode case-folding differs between engines by design —
e.g. dotted-I — and the corpus generator never emits it; widening the
envelope would need an explicit normalization convention first.)
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from parity import compare  # noqa: E402

WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8)
TEXT = st.lists(WORD, min_size=0, max_size=30).map(" ".join)
DOC_TABLES = st.lists(
    st.tuples(TEXT, st.sampled_from(["web", "books", "code"])),
    min_size=1,
    max_size=12,
)

# (query, oracle) pairs exercised per corpus — text + dedup + BPE
# cover the hash / DECIMAL / round6 / explode conventions
_CASES = [
    "q21_token_stats",
    "q24_fingerprints",
    "q25_dedup_exact",
    "q26_ngram_jaccard_pairs",
    "q28_simhash",
    "q92_bpe_token_stats",
    "q100_bpe_large_token_stats",
    "q103_bpe_doc_fingerprints",
    "q105_decontaminate_spans",
    "q102_tfidf_reference_screen",
    "q95_bpe_token_budget",
    "q97_bpe_pack_sequences",
    "q99_tfidf_cosine_knn",
    "q110_tfidf_banded_knn",
    "q111_tfidf_banded_screen",
]


def _write_docs(tmpdir: str, rows) -> str:
    table = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([r[0] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[1] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "documents.parquet"))
    return tmpdir


@pytest.mark.parametrize("qname", _CASES)
def test_fuzzed_corpus_matches_oracle(qname, spark, tmp_path_factory):
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("fuzz"))
        _write_docs(d, rows)
        df = queries[qname](spark, d)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet'"
            )
            arrow = con.execute(oracles[qname]).arrow()
        finally:
            con.close()
        cols = [c.to_pylist() for c in arrow.columns]
        oracle_rows = [
            tuple(col[i] for col in cols) for i in range(arrow.num_rows)
        ]
        problems = compare(
            qname, df, oracle_rows, list(arrow.schema.names)
        )
        assert not problems, (problems, rows)

    check()


VEC = st.lists(
    st.integers(min_value=-12, max_value=12).map(lambda i: i / 4.0),
    min_size=8,
    max_size=8,
)
EMB_TABLES = st.lists(
    st.tuples(VEC, st.integers(min_value=0, max_value=2)),
    min_size=2,
    max_size=10,
)

_EMB_CASES = [
    "q29_cosine_topk",
    "q98_quantized_ann_topk",
    "q50_cosine_near_dup",
    "q79_knn_join",
    "q83_label_cohesion",
    "q89_quantization_audit",
    "q90_label_outliers",
]


def _write_emb(tmpdir: str, rows) -> str:
    # plant a DUPLICATE of row 0 at the end: identical vectors produce
    # cosine exactly 1.0 and exercise the (cosine, id) tie-break and
    # round6 boundary on both engines
    rows = list(rows) + [rows[0]]
    table = pa.table(
        {
            "vec_id": pa.array(range(len(rows)), pa.int64()),
            "embedding": pa.array(
                [r[0] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[1] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "embeddings.parquet"))
    return tmpdir


@pytest.mark.parametrize("qname", _EMB_CASES)
def test_fuzzed_embeddings_match_oracle(qname, spark, tmp_path_factory):
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(EMB_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("fuzzemb"))
        _write_emb(d, rows)
        df = queries[qname](spark, d)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"'{d}/embeddings.parquet'"
            )
            arrow = con.execute(oracles[qname]).arrow()
        finally:
            con.close()
        cols = [c.to_pylist() for c in arrow.columns]
        oracle_rows = [
            tuple(col[i] for col in cols) for i in range(arrow.num_rows)
        ]
        problems = compare(
            qname, df, oracle_rows, list(arrow.schema.names)
        )
        assert not problems, (problems, rows)

    check()


# SRP-quantized queries need full-width vectors (the signature folds
# over sequence(0, dim-1); a short array would zip_with-pad with NULLs
# whose cross-engine semantics we deliberately do not rely on).
VEC64 = st.lists(
    st.integers(min_value=-12, max_value=12).map(lambda i: i / 4.0),
    min_size=64,
    max_size=64,
)
SRP_TABLES = st.lists(
    st.tuples(VEC64, st.integers(min_value=0, max_value=2)),
    min_size=2,
    max_size=8,
)

# random tiny graphs through the full semantic-dedup compositions:
# identical-vector duplicates (planted by _write_emb) force cosine
# exactly 1.0 ties; q96 additionally fuzzes the per-bucket union-find
# + in-task strongest-m bound against the recursive-CTE oracle
_SRP_CASES = [
    "q91_srp_ann_topk",
    "q93_semantic_dedup",
    "q94_margin_ann_topk",
    "q96_bounded_semantic_dedup",
    "q101_quantized_srp_ann",
]


@pytest.mark.parametrize("qname", _SRP_CASES)
def test_fuzzed_srp_queries_match_oracle(qname, spark, tmp_path_factory):
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(SRP_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("fuzzsrp"))
        _write_emb(d, rows)
        df = queries[qname](spark, d)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"'{d}/embeddings.parquet'"
            )
            arrow = con.execute(oracles[qname]).arrow()
        finally:
            con.close()
        cols = [c.to_pylist() for c in arrow.columns]
        oracle_rows = [
            tuple(col[i] for col in cols) for i in range(arrow.num_rows)
        ]
        problems = compare(
            qname, df, oracle_rows, list(arrow.schema.names)
        )
        assert not problems, (problems, rows)

    check()


# --------------------------------------------------------------------------
# Streaming-gate fuzz: the r6 red test showed the gates' edge cases
# (NULL/empty/OOV/exact-dup/zero-norm) were hand-enumerated. These
# drive tfidf_dup_gate / semantic_dup_gate / bpe_pack_gate with
# random corpora, asserting stream == batch bit-for-bit on the same
# data plus the contract invariants. Each incoming corpus plants
# exact duplicates of reference docs (shifted ids) and overlapping
# ids (self-exclusion), on top of hypothesis's empty/OOV shapes.

_GATE_SEQ = [0]


def _gate_name(prefix: str) -> str:
    _GATE_SEQ[0] += 1
    return f"{prefix}_{_GATE_SEQ[0]}"


def _write_incoming_docs(tmpdir: str, rows) -> str:
    # original ids (self-exclusion) + exact dups at id+1000 + one OOV
    all_rows = [(i, r[0], r[1]) for i, r in enumerate(rows)]
    all_rows += [
        (i + 1000, r[0], r[1]) for i, r in enumerate(rows[:2])
    ]
    all_rows.append((5000, "zzqqxx yyvvww", "web"))
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in all_rows], pa.int64()),
            "text": pa.array([r[1] for r in all_rows], pa.string()),
            "lang": pa.array(["en"] * len(all_rows), pa.string()),
            "source": pa.array([r[2] for r in all_rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in all_rows], pa.int64()
            ),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "documents.parquet"))
    return tmpdir


def test_fuzzed_tfidf_dup_gate_stream_matches_batch(
    spark, tmp_path_factory
):
    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.streaming import (
        read_document_stream,
        run_stream_to_memory,
        tfidf_dup_gate,
        tfidf_reference_index,
    )

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES)
    def check(rows):
        ref_dir = str(tmp_path_factory.mktemp("gref"))
        _write_docs(ref_dir, rows)
        inc_dir = str(tmp_path_factory.mktemp("ginc"))
        _write_incoming_docs(inc_dir, rows)
        ref = load_table(spark, ref_dir, "documents")
        ix = tfidf_reference_index(ref, threshold=0.8)
        incoming = load_table(spark, inc_dir, "documents")
        batch = sorted(
            map(tuple, tfidf_dup_gate(incoming, ix).collect())
        )
        got = run_stream_to_memory(
            tfidf_dup_gate(read_document_stream(spark, inc_dir), ix),
            _gate_name("fuzz_tfidf_gate"),
            spark,
            output_mode="append",
        )
        assert sorted(map(tuple, got.collect())) == batch
        by_id = {r[0]: r for r in batch}
        assert len(by_id) == len(batch)  # one row per doc
        ref_has_norm = {
            i for i, terms in ix["vec"].items() if terms
        }
        for doc_id, _mid, cos, flag in batch:
            # flag agrees with the threshold comparison
            assert flag == (cos is not None and cos >= 0.8 - 1e-9)
            # planted exact dup of a nonzero-norm ref doc must flag
            if doc_id >= 1000 and doc_id < 5000:
                if (doc_id - 1000) in ref_has_norm:
                    assert flag, (doc_id, cos)

    check()


def _write_incoming_emb(tmpdir: str, rows) -> str:
    all_rows = [(i, r[0], r[1]) for i, r in enumerate(rows)]
    all_rows += [
        (i + 1000, r[0], r[1]) for i, r in enumerate(rows[:2])
    ]
    all_rows.append((5000, [0.0] * 64, 0))  # zero norm -> unflagged
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in all_rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in all_rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in all_rows], pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "embeddings.parquet"))
    return tmpdir


def test_fuzzed_semantic_dup_gate_stream_matches_batch(
    spark, tmp_path_factory
):
    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.streaming import (
        read_embedding_stream,
        run_stream_to_memory,
        semantic_dup_gate,
    )

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(SRP_TABLES)
    def check(rows):
        ref_dir = str(tmp_path_factory.mktemp("sref"))
        _write_emb(ref_dir, rows)
        inc_dir = str(tmp_path_factory.mktemp("sinc"))
        _write_incoming_emb(inc_dir, rows)
        ref = load_table(spark, ref_dir, "embeddings")
        incoming = load_table(spark, inc_dir, "embeddings")
        batch = sorted(
            map(tuple, semantic_dup_gate(incoming, ref).collect())
        )
        got = run_stream_to_memory(
            semantic_dup_gate(
                read_embedding_stream(spark, inc_dir), ref
            ),
            _gate_name("fuzz_sem_gate"),
            spark,
            output_mode="append",
        )
        assert sorted(map(tuple, got.collect())) == batch
        by_id = {r[0]: r for r in batch}
        assert len(by_id) == len(batch)
        # zero-norm planted vector passes unflagged with NULL match
        z = by_id[5000]
        assert not z[4] and z[2] is None and z[3] is None
        # planted exact dup of a nonzero reference vector must flag
        # (cosine 1.0 with its source, which shares its bucket)
        for i, (vec, _lbl) in enumerate(rows[:2]):
            if any(x != 0.0 for x in vec):
                assert by_id[i + 1000][4], (i, by_id[i + 1000])

    check()


def test_fuzzed_bpe_pack_gate_stream_matches_batch(
    spark, tmp_path_factory
):
    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.operators.text import (
        BPE_PACK_BUDGET,
        bpe_pack,
    )
    from aerovaldb_spark.streaming import (
        bpe_pack_gate,
        read_document_stream,
        run_stream_to_memory,
    )

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("gpack"))
        _write_docs(d, rows)
        docs = load_table(spark, d, "documents")
        batch = sorted(map(tuple, bpe_pack(docs).collect()))
        got = run_stream_to_memory(
            bpe_pack_gate(read_document_stream(spark, d)),
            _gate_name("fuzz_pack_gate"),
            spark,
            output_mode="append",
        )
        streamed = sorted(map(tuple, got.collect()))
        # single micro-batch -> stream == batch exactly
        assert streamed == batch
        by_shard: dict = {}
        for _doc, source, n, shard in streamed:
            assert shard >= 0 and n > 0
            by_shard.setdefault((source, shard), []).append(n)
        for toks in by_shard.values():
            assert sum(toks) < BPE_PACK_BUDGET + max(toks)

    check()


# Events-table fuzz: the temporal queries' cross-engine risk is
# timestamp semantics (strictly-before boundaries, identical-instant
# events, micros precision). Random event tables with deliberately
# colliding timestamps drive the graded temporal pairs through the
# same oracle gate.
EVENT = st.tuples(
    st.integers(min_value=0, max_value=5),  # user
    st.integers(min_value=0, max_value=60 * 60 * 30),  # seconds offset
    st.integers(min_value=0, max_value=999999),  # micros
    st.sampled_from(["click", "purchase", "view", "signup", "error"]),
)
EVENT_TABLES = st.lists(EVENT, min_size=2, max_size=40)

_EVENT_CASES = [
    "q104_purchase_click_pairs",
    # the outer twin must ALSO flip collision-boundary purchases into
    # unmatched NULL-click rows — a row shape q104 never emits
    "q107_purchase_click_outer",
    "q18_asof_purchase_click",
    "q19_sessionize",
    "q106_kmv_distinct",
    "q109_kmv_overlap",
]


def _write_events(tmpdir: str, rows) -> str:
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # plant one exact click/purchase timestamp collision for the same
    # user: strictly-before predicates must EXCLUDE it on both engines
    rows = list(rows) + [
        (0, 3600, 0, "click"),
        (0, 3600, 0, "purchase"),
    ]
    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    base + dt.timedelta(seconds=r[1], microseconds=r[2])
                    for r in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array(
                [float(i % 7) for i in range(len(rows))], pa.float64()
            ),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


@pytest.mark.parametrize("qname", _EVENT_CASES)
def test_fuzzed_events_match_oracle(qname, spark, tmp_path_factory):
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(EVENT_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("fuzzev"))
        _write_events(d, rows)
        df = queries[qname](spark, d)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"'{d}/events.parquet'"
            )
            arrow = con.execute(oracles[qname]).arrow()
        finally:
            con.close()
        cols = [c.to_pylist() for c in arrow.columns]
        oracle_rows = [
            tuple(col[i] for col in cols) for i in range(arrow.num_rows)
        ]
        problems = compare(
            qname, df, oracle_rows, list(arrow.schema.names)
        )
        assert not problems, (problems, rows)

    check()


# ---------------------------------------------------------------------------
# verify-shape equivalence: the map and keyed verification plans must
# be bit-identical (both sum the same round6'd DECIMAL terms), and the
# auto switch must pick map for short docs / keyed for long ones.
def test_verify_shapes_equal_outside_weight_frame(spark):
    """map == keyed must hold for ANY candidate frame, including pairs
    referencing a doc ABSENT from the weight frame (zero-norm doc):
    both shapes left-join back onto the candidates and emit dot=0.
    Unreachable from current callers (their candidates derive from the
    weight frame) — pinned so the stated unconditional invariant can't
    silently regress."""
    from pyspark.sql import functions as F

    from aerovaldb_spark.operators.text import (
        _verified_dots,
        tfidf_weight_frame,
    )

    # doc 3's only term appears in every doc -> idf 0 -> zero norm ->
    # filtered from the weight frame entirely
    docs = spark.createDataFrame(
        [(1, "common alpha beta"), (2, "common alpha beta"), (3, "common")],
        "doc_id bigint, text string",
    )
    w, _stats, _n = tfidf_weight_frame(docs)
    assert w.where(F.col("doc_id") == 3).count() == 0
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 2)], "doc_a bigint, doc_b bigint"
    )
    got = {
        shape: sorted(
            map(
                tuple,
                _verified_dots(
                    cand, w, w, "doc_a", "doc_b", shape
                ).collect(),
            )
        )
        for shape in ("map", "keyed")
    }
    assert got["map"] == got["keyed"]
    assert len(got["map"]) == 3
    for t in got["map"]:
        if 3 in (t[0], t[1]):
            assert float(t[2]) == 0.0
        else:
            assert float(t[2]) > 0.0


def test_tfidf_verify_shapes_bit_equal_fuzzed(spark, tmp_path_factory):
    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.operators.text import (
        tfidf_cosine_knn,
        tfidf_screen_join,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES)
    def check(rows):
        d = str(tmp_path_factory.mktemp("fuzzshape"))
        _write_docs(d, rows)
        docs = load_table(spark, d, "documents")
        knn_map = sorted(
            map(tuple, tfidf_cosine_knn(docs, verify_shape="map").collect())
        )
        knn_keyed = sorted(
            map(
                tuple,
                tfidf_cosine_knn(docs, verify_shape="keyed").collect(),
            )
        )
        assert knn_map == knn_keyed, rows
        scr_map = sorted(
            map(
                tuple,
                tfidf_screen_join(docs, docs, verify_shape="map").collect(),
            )
        )
        scr_keyed = sorted(
            map(
                tuple,
                tfidf_screen_join(
                    docs, docs, verify_shape="keyed"
                ).collect(),
            )
        )
        assert scr_map == scr_keyed, rows
        # the self-screen fast path (incoming IS reference -> reuse the
        # reference weight frame) must be bit-identical to the general
        # path fed an equal-but-distinct DataFrame
        general = sorted(
            map(
                tuple,
                tfidf_screen_join(
                    docs, docs.select(*docs.columns), verify_shape="map"
                ).collect(),
            )
        )
        assert scr_map == general, rows

    check()


def test_tfidf_verify_auto_switch(spark):
    """auto chooses between the Arrow ``map`` plan and the ``keyed``
    plan on avg terms/doc alone — ``keyed`` iff either side's avg
    terms/doc exceeds TFIDF_VERIFY_KEYED_MIN_AVG_TERMS, else ``map``
    (the ``_verified_dots`` docstring; SCALING.md, "Data-driven TF-IDF
    verification shape") — observable in the analyzed plan: only the
    Arrow map form verifies through the merge-intersect's `_micros`
    column, and `map_zip_with` appears only in the pure-JVM
    ``map_fold`` form, which auto never picks.

    Three corpora: the dense sf0.001 template corpus stays on ``map``;
    a short-document, near-disjoint-vocabulary corpus also stays on
    ``map`` (low avg document frequency does not move it), finds its
    one planted near-dup pair and matches an explicit ``map_fold``
    row for row, whose plan carries the fold's markers; a long-doc
    corpus flips to ``keyed`` and agrees with ``map``."""
    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.operators.text import (
        TFIDF_VERIFY_KEYED_MIN_AVG_TERMS,
        tfidf_cosine_knn,
    )

    # template corpus: small shared vocabulary -> avg df ~365 at
    # sf0.001 (measured), ~25 avg terms/doc: the Arrow map plan
    dense = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan_dense = (
        tfidf_cosine_knn(dense)._jdf.queryExecution().analyzed().toString()
    )
    assert "_micros" in plan_dense

    # near-disjoint vocabularies (one shared near-dup pair): avg df
    # ~1, and <= 370 weight rows over 32 docs (~11.6 avg terms/doc,
    # well under the keyed threshold) — auto stays on the Arrow map
    # plan, with no fold in it
    sparse_docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(12)))
         for i in range(30)]
        + [(100, "dup dup alpha beta gamma delta"),
           (101, "dup dup alpha beta gamma delta")],
        "doc_id long, text string",
    )
    plan_sparse = (
        tfidf_cosine_knn(sparse_docs)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "_micros" in plan_sparse
    assert "map_zip_with" not in plan_sparse
    # the explicit fold on the same corpus: no Arrow column, but the
    # map carry (map_zip_with appears only in the fold)
    fold_df = tfidf_cosine_knn(sparse_docs, verify_shape="map_fold")
    plan_fold = fold_df._jdf.queryExecution().analyzed().toString()
    assert "_micros" not in plan_fold
    assert "map_zip_with" in plan_fold
    # auto still finds the planted duplicate pair
    got = tfidf_cosine_knn(sparse_docs).collect()
    assert {(r["doc_id"], r["neighbor_id"]) for r in got} == {
        (100, 101), (101, 100)
    }
    # and equals the fold row for row
    assert sorted(map(tuple, got)) == sorted(map(tuple, fold_df.collect()))

    # two identical long docs + one disjoint doc: the shared terms
    # have df=2 of 3 (idf > 0 — terms in EVERY doc would weigh zero),
    # so the twin pair scores cosine 1.0 and must survive both shapes
    n_terms = int(TFIDF_VERIFY_KEYED_MIN_AVG_TERMS) + 90
    a_text = " ".join(f"w{j}" for j in range(n_terms))
    b_text = " ".join(f"x{j}" for j in range(n_terms))
    long_docs = spark.createDataFrame(
        [(0, a_text), (1, a_text), (2, b_text)],
        "doc_id long, text string",
    )
    plan_long = (
        tfidf_cosine_knn(long_docs)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "_micros" not in plan_long

    # and the two shapes agree on the long corpus too
    a = sorted(
        map(
            tuple,
            tfidf_cosine_knn(long_docs, verify_shape="map").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            tfidf_cosine_knn(long_docs, verify_shape="keyed").collect(),
        )
    )
    assert a == b and a  # long near-identical docs do produce pairs


def test_kmv_estimator_branch_cross_engine(spark, tmp_path):
    """The (k-1)/U_(k) estimator branch of q106/q109 never fires on the
    hypothesis event corpora (<= 40 rows < k=64 distinct), so pin it
    cross-engine on a deterministic 500-user corpus: every per-key and
    per-pair union kept set saturates at k and the round6'd division
    must hash-match DuckDB exactly."""
    import datetime as dt

    import __spark_entry__ as entry_mod

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), i % 500,
         ["click", "view", "purchase"][i % 3], float(i % 7), "{}")
        for i in range(3000)
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = str(tmp_path / "kmvbig")
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "events.parquet"))

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for qname in ("q106_kmv_distinct", "q109_kmv_overlap"):
        df = queries[qname](spark, d)
        # estimator branch actually reached: every key holds >= k
        from aerovaldb_spark.operators.events import KMV_K

        n_kept_col = "n_kept" if "n_kept" in df.columns else None
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'"
            )
            arrow = con.execute(oracles[qname]).arrow()
        finally:
            con.close()
        cols = [c.to_pylist() for c in arrow.columns]
        oracle_rows = [
            tuple(col[i] for col in cols) for i in range(arrow.num_rows)
        ]
        problems = compare(qname, df, oracle_rows, list(arrow.schema.names))
        assert not problems, (qname, problems)
        if n_kept_col:
            assert all(
                r[n_kept_col] == KMV_K for r in df.collect()
            ), qname


def test_screen_index_equals_ephemeral_on_fuzzed_corpora(
    spark, tmp_path_factory
):
    """TfidfScreenIndex.screen must be bit-equal to the ephemeral
    two-sided banded screen on ARBITRARY corpora, not just the
    harness tables — the index round-trips stats/weights/signatures
    through parquet, so any weight-convention drift or float
    round-trip loss shows up here."""
    from pyspark.sql import functions as F

    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.operators.text import (
        TfidfScreenIndex,
        tfidf_banded_screen,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES, DOC_TABLES)
    def check(ref_rows, inc_rows):
        d_ref = str(tmp_path_factory.mktemp("idx_ref"))
        d_inc = str(tmp_path_factory.mktemp("idx_inc"))
        _write_docs(d_ref, ref_rows)
        _write_docs(d_inc, inc_rows)
        reference = load_table(spark, d_ref, "documents")
        # shift incoming ids so same-id exclusion isn't exercised by
        # accident (it has its own directed test)
        incoming = load_table(spark, d_inc, "documents").withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        want = sorted(
            map(
                tuple,
                tfidf_banded_screen(incoming, reference).collect(),
            )
        )
        idx_dir = str(tmp_path_factory.mktemp("idx_store"))
        TfidfScreenIndex.build(reference).save(idx_dir)
        loaded = TfidfScreenIndex.load(spark, idx_dir)
        got = sorted(map(tuple, loaded.screen(incoming).collect()))
        assert got == want

    check()


def test_banded_screen_two_sided_flags_subset_fuzzed(
    spark, tmp_path_factory
):
    """The two-sided banded screen (incoming != reference) on fuzzed
    corpora with the degenerate shapes the r9 hardening targeted —
    single-term docs, whitespace-only docs, a boilerplate block sized
    just OVER the skew-guard boundary, and an empty reference:
    (a) banded flags are a subset of the exact screen's flags and a
    banded match is never better than the exact best (banding only
    loses candidates; verification is shared and exact);
    (b) the persisted index agrees with itself under the guard
    (guarded flags subset of unguarded, one row per incoming doc
    always);
    (c) an empty reference flags nothing but still emits every
    incoming doc."""
    from pyspark.sql import functions as F

    from aerovaldb_spark.catalog import load_table
    from aerovaldb_spark.operators._scope import release_scoped_persists
    from aerovaldb_spark.operators.text import (
        TfidfScreenIndex,
        tfidf_banded_screen,
        tfidf_screen_join,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(DOC_TABLES, DOC_TABLES, st.integers(min_value=1, max_value=3))
    def check(ref_rows, inc_rows, mb):
        # boilerplate block: the FIRST ref text repeated mb+1 times --
        # its (band, sig) buckets land exactly one over the guard
        ref_rows = list(ref_rows) + [(ref_rows[0][0], "web")] * (mb + 1)
        d_ref = str(tmp_path_factory.mktemp("b2_ref"))
        d_inc = str(tmp_path_factory.mktemp("b2_inc"))
        _write_docs(d_ref, ref_rows)
        _write_docs(d_inc, inc_rows)
        reference = load_table(spark, d_ref, "documents")
        incoming = load_table(spark, d_inc, "documents").withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        try:
            exact = {
                r["doc_id"]: (r["match_cosine"], r["tfidf_dup"])
                for r in tfidf_screen_join(
                    incoming, reference, verify_shape="map"
                ).collect()
            }
            banded = {
                r["doc_id"]: (r["match_cosine"], r["tfidf_dup"])
                for r in tfidf_banded_screen(incoming, reference).collect()
            }
            assert set(banded) == set(exact)  # one row per incoming doc
            for d, (mc, flag) in banded.items():
                if flag:
                    assert exact[d][1], d
                    assert mc <= exact[d][0] + 1e-12, (d, mc, exact[d])

            idx_dir = str(tmp_path_factory.mktemp("b2_idx"))
            TfidfScreenIndex.build(reference).save(idx_dir)
            loaded = TfidfScreenIndex.load(spark, idx_dir)
            unguarded = {
                r["doc_id"]: r["tfidf_dup"]
                for r in loaded.screen(incoming).collect()
            }
            guarded = {
                r["doc_id"]: r["tfidf_dup"]
                for r in loaded.screen(incoming, max_bucket=mb).collect()
            }
            assert set(guarded) == set(unguarded) == set(exact)
            assert {d for d, f in guarded.items() if f} <= {
                d for d, f in unguarded.items() if f
            }

            empty = tfidf_banded_screen(
                incoming, reference.limit(0)
            ).collect()
            assert len(empty) == len(exact)
            assert not any(r["tfidf_dup"] for r in empty)
        finally:
            release_scoped_persists()

    check()


def test_verify_shapes_equal_on_duplicate_candidate_pairs(spark):
    """Review regression: a DUPLICATED candidate pair used to double
    the keyed shape's dot (the groupBy summed term products once per
    copy) while the map shape scored each copy independently. The
    keyed aggregation now runs over distinct pairs and the
    left-join-back re-fans duplicates, so both shapes emit the same
    rows — same multiplicity, same (undoubled) dot."""
    from pyspark.sql import functions as F

    from aerovaldb_spark.operators.text import (
        _verified_dots,
        tfidf_weight_frame,
    )

    # doc 3 keeps the shared terms' df below n (idf > 0 -> dot > 0)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
        ],
        "doc_id bigint, text string",
    )
    w, _stats, _n = tfidf_weight_frame(docs)
    cand = spark.createDataFrame(
        [(1, 2), (1, 2)], "doc_a bigint, doc_b bigint"
    )
    got = {
        shape: sorted(
            map(
                tuple,
                _verified_dots(
                    cand, w, w, "doc_a", "doc_b", shape
                ).collect(),
            )
        )
        for shape in ("map", "keyed")
    }
    assert got["map"] == got["keyed"]
    assert len(got["map"]) == 2  # duplicates preserved...
    assert got["map"][0] == got["map"][1]  # ...identically
    # and the dot is the single-pair value, not doubled
    single = _verified_dots(
        cand.distinct(), w, w, "doc_a", "doc_b", "keyed"
    ).collect()[0]["dot"]
    assert got["keyed"][0][2] == single
    assert float(single) > 0.0
