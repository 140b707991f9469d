"""Hypothesis property tests — the never-crash / invariant guarantees the
extraction kernels must hold for ANY input (SURVEY.md §5.2 item 3). A bad
turn degrades to the sentinel; it never fails the job."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.kernels.align import align_pages, page_table_from_records
from ocr_spark.kernels.extract import extract_turn
from ocr_spark.kernels.grid import extract_grid_table
from ocr_spark.kernels.htmlstrip import strip_html
from ocr_spark.kernels.salvage import salvage_json
from ocr_spark.pipeline import turn_checksums

TEXT = st.text(max_size=300)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_salvage_never_raises_and_keeps_shape(s):
    out = salvage_json(s)
    assert isinstance(out, dict)
    assert isinstance(out.get("table_data"), list)
    assert "summary" in out


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_strip_html_never_raises(s):
    out = strip_html(s)
    assert isinstance(out, str)
    # idempotence on the plain-text path: stripping stripped text is stable
    if "<" not in s:
        assert strip_html(out) == out


@settings(max_examples=100, deadline=None)
@given(TEXT, st.sampled_from(["html", "grid", "json", "flaky", "null", "", "weird"]))
def test_extract_turn_total_function(s, tool):
    rec = extract_turn(s, tool)
    assert set(rec) == {"extracted_text", "n_rows", "n_cols", "status", "retries"}
    assert rec["status"] in ("ok", "empty", "error")
    assert isinstance(rec["extracted_text"], str)
    assert 0 <= rec["retries"] <= 2  # bounded by the 3-attempt budget


@settings(max_examples=100, deadline=None)
@given(TEXT)
def test_grid_garbage_degrades_to_sentinel(s):
    out = extract_grid_table(s)
    assert out["table_data"] == [] or isinstance(out["table_data"], list)


_RECORDS = st.lists(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.one_of(st.text(max_size=10), st.integers(-5, 5), st.none()),
        max_size=4,
    ),
    max_size=5,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_RECORDS, max_size=4))
def test_align_invariants(pages_records):
    pages = [page_table_from_records(r) for r in pages_records]
    cols, rows = align_pages(pages)
    # output columns = union of page columns, first-seen order
    seen = []
    for pc, _ in pages:
        for c in pc:
            if c not in seen:
                seen.append(c)
    assert cols == seen
    # row count = sum of page rows; every row has exactly len(cols) cells
    assert len(rows) == sum(len(pr) for _, pr in pages)
    assert all(len(r) == len(cols) for r in rows)
    # ""-filled cells appear only where the page lacked the column
    i = 0
    for pc, pr in pages:
        for row in pr:
            for c_i, c in enumerate(cols):
                if c not in pc:
                    assert rows[i][c_i] == ""
            i += 1


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=6), st.integers(0, 99), TEXT),
        min_size=1,
        max_size=30,
    ),
    st.randoms(use_true_random=False),
)
def test_checksum_sum_is_order_insensitive(rows, rnd):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    a = turn_checksums(pdf["conv_id"], pdf["turn_idx"], pdf["text"])
    perm = list(range(len(pdf)))
    rnd.shuffle(perm)
    p = pdf.iloc[perm].reset_index(drop=True)
    b = turn_checksums(p["conv_id"], p["turn_idx"], p["text"])
    assert int(np.add.reduce(a.astype(np.uint64))) == int(
        np.add.reduce(b.astype(np.uint64))
    )


def _pandas_turn_checksums(conv_id, turn_idx, text) -> np.ndarray:
    """The digest spelled with pandas ``.str`` ops (the written outputs'
    checksums were first computed this way)."""

    def esc(s: pd.Series) -> pd.Series:
        return s.str.replace("\x01", "\x01\x01", regex=False).str.replace(
            "\x00", "\x01\x02", regex=False
        )

    joined = (
        esc(conv_id.astype("string"))
        + "\x01\x03"
        + turn_idx.astype("int64").astype("string")
        + "\x01\x03"
        + esc(text.astype("string"))
    )
    return pd.util.hash_pandas_object(joined, index=False).to_numpy(np.uint64)


_CONTROL_TEXT = st.one_of(
    st.none(), st.text(alphabet=st.sampled_from("\x00\x01\x02\x03ab é😀"), max_size=8), TEXT
)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(_CONTROL_TEXT, st.integers(-(2**31), 2**31 - 1), _CONTROL_TEXT),
        min_size=1,
        max_size=30,
    )
)
def test_checksums_match_the_pandas_string_formula(rows):
    """Lineage checksums stay byte-for-byte comparable with outputs that
    were written before: NUL and separator bytes, non-ASCII text and
    missing fields all digest as the pandas formulation does."""
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]).astype(
        {"conv_id": object, "text": object}
    )
    got = turn_checksums(pdf["conv_id"], pdf["turn_idx"], pdf["text"])
    want = _pandas_turn_checksums(pdf["conv_id"], pdf["turn_idx"], pdf["text"])
    assert got.tolist() == want.tolist()


_GRID_CELL = st.text(
    alphabet=st.sampled_from(
        "abcdefghijklmnopqrstuvwxyz0123456789 .,-_:/%+()"
    ),
    min_size=0,
    max_size=8,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(  # header: non-empty cells so every column has ink
        st.text(
            alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789"),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
    st.lists(st.lists(_GRID_CELL, min_size=1, max_size=4), min_size=1, max_size=4),
)
def test_borderless_roundtrip_any_charset_cells(header, body):
    """Whitespace layout analysis recovers ANY charset table rendered
    without rule lines — ragged rows pad with '', spaces inside cells
    never split a column, sparse-ink glyph lines never split a row. An
    all-empty row leaves no ink, so it is invisible to projection
    analysis (inherent to the method) and drops from the read-back."""
    from ocr_spark.kernels.grid import read_borderless_cells, render_borderless

    cells = [header] + [row[: len(header)] for row in body]
    img = render_borderless(cells)
    ncols = len(header)
    want = [
        row
        for row in (
            [(r[c] if c < len(r) else "") for c in range(ncols)]
            for r in cells
        )
        if any(row)
    ]
    assert read_borderless_cells(img) == want


def _union_find_min_labels(nodes, edges):
    """Reference components: union-find, each component labelled with
    its smallest id."""
    parent = {v: v for v in nodes}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: root(v) for v in nodes}


def test_connected_components_match_union_find(spark):
    """On random small graphs, with integer and with string ids (whose
    order differs: "10" < "9"), every node's cluster_id is the min id of
    its component, as a union-find computes it."""
    from hypothesis import HealthCheck

    from ocr_spark.operators.graph import connected_components

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.integers(1, 24).flatmap(
            lambda n: st.tuples(
                st.permutations(range(n)),
                st.lists(
                    st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                    max_size=2 * n,
                ),
            )
        ),
        st.booleans(),
    )
    def check(graph, string_ids):
        perm, pairs = graph
        ids = [str(p) if string_ids else p for p in perm]
        edges = [(ids[a], ids[b]) for a, b in pairs]
        kind = "string" if string_ids else "long"
        got = connected_components(
            spark.createDataFrame(edges, f"src {kind}, dst {kind}"),
            spark.createDataFrame([(v,) for v in ids], f"node {kind}"),
        ).collect()
        assert {r.node: r.cluster_id for r in got} == _union_find_min_labels(
            ids, edges
        )
        assert len(got) == len(ids)

    check()
