"""Property tests: kernel totality and Python-vs-DuckDB scalar equivalence.

The date/comma SQL renderings (functions/sqlgen.py) must agree with the
Python kernel implementations on arbitrary inputs — this is what keeps
the driver oracle honest when inputs drift.
"""

import datetime as dt
import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from readabilityimproved_spark.functions import sqlgen
from readabilityimproved_spark.javacompat import comma_segments
from readabilityimproved_spark.kernel.dates import date_from_url
from readabilityimproved_spark.kernel.readability import STATUSES, extract_document
from readabilityimproved_spark.dom import parse

REF = dt.datetime(2019, 6, 18, 12, 0, 0)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


DATE_SQL = (
    "SELECT " + sqlgen.date_from_url_sql("u", sqlgen.DUCKDB)
    + " FROM (SELECT ?::VARCHAR AS u)"
)
COMMA_SQL = (
    "SELECT " + sqlgen.comma_segments_sql("u", sqlgen.DUCKDB)
    + " FROM (SELECT ?::VARCHAR AS u)"
)


# url-ish strings: digits, separators, path chars
_URL_ALPHABET = "0123456789-_./abcxyz:"


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_URL_ALPHABET, min_size=0, max_size=60))
def test_date_from_url_matches_duckdb(duck, s):
    url = "http://h/" + s
    py = date_from_url(url, REF)
    db = duck.execute(DATE_SQL, [url]).fetchone()[0]
    assert py == db, f"url={url!r} py={py!r} duckdb={db!r}"


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab ,，", min_size=0, max_size=30))
def test_comma_segments_matches_duckdb(duck, s):
    py = comma_segments(s)
    db = duck.execute(COMMA_SQL, [s]).fetchone()[0]
    assert py == db, f"s={s!r} py={py} duckdb={db}"


# html-ish soup including tags, entities, brokenness
_HTML_ALPHABET = "<>/=\"' abcdeipl123&;-"


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_HTML_ALPHABET, min_size=0, max_size=200))
def test_kernel_total_on_soup(s):
    r = extract_document(s, base_uri="http://h/2019-06/18/x.html")
    assert r.status in STATUSES or re.fullmatch(r"error:[A-Za-z_]\w*", r.status)
    # offsets always dense regardless of input
    assert [sp[3] for sp in r.spans] == list(range(len(r.spans)))


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=_HTML_ALPHABET, min_size=0, max_size=150))
def test_dom_roundtrip_stable(s):
    # parse -> serialize -> parse -> serialize must be a fixed point
    doc = parse(s)
    once = doc.body().html()
    doc2 = parse(once)
    assert doc2.body().html() == once


# ---------------------------------------------------------------------------
# temporal joins vs pure-Python references (round 6)
# ---------------------------------------------------------------------------

_TS0 = dt.datetime(2024, 3, 1)
_ts_or_none = st.one_of(
    st.none(), st.integers(0, 120).map(lambda s: _TS0 + dt.timedelta(seconds=s))
)
_key_or_none = st.one_of(st.none(), st.integers(0, 2))


@settings(max_examples=12, deadline=None)
@given(
    left=st.lists(st.tuples(_key_or_none, _ts_or_none), max_size=12),
    right=st.lists(st.tuples(_key_or_none, _ts_or_none, st.integers(0, 99)), max_size=12),
    tol_s=st.one_of(st.none(), st.integers(0, 150)),
    direction=st.sampled_from(["backward", "forward"]),
)
def test_asof_join_matches_python_reference(spark, left, right, tol_s, direction):
    """Randomized parity with a brute-force as-of: NULL keys/timestamps,
    exact ties, empty sides, tolerance boundaries, both directions."""
    from readabilityimproved_spark.operators.relational import asof_join

    # unique right rows per (key, ts): the operator's determinism contract
    seen, rr = set(), []
    for k, ts, v in right:
        if (k, ts) not in seen:
            seen.add((k, ts))
            rr.append((k, ts, v))
    lrows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    rdf = spark.createDataFrame(rr, "k long, ts timestamp, v long")
    tol_us = None if tol_s is None else tol_s * 1_000_000
    got = {
        r.lid: (r.rts, r.v)
        for r in asof_join(
            ldf, rdf, on="k", value_cols=("v",), matched_ts_col="rts",
            tolerance_us=tol_us, direction=direction,
        ).collect()
    }
    for lid, k, lts in lrows:
        best = None
        if k is not None and lts is not None:
            for rk, rts, v in rr:
                if rk != k or rts is None:
                    continue
                if direction == "backward":
                    if rts <= lts and (best is None or rts > best[0]):
                        best = (rts, v)
                else:
                    if rts >= lts and (best is None or rts < best[0]):
                        best = (rts, v)
            if best is not None and tol_us is not None:
                if abs((lts - best[0]).total_seconds() * 1e6) > tol_us:
                    best = None
        assert got[lid] == (best or (None, None)), (lid, k, lts, rr)


@settings(max_examples=10, deadline=None)
@given(
    points=st.lists(st.tuples(_key_or_none, _ts_or_none), max_size=10),
    intervals=st.lists(
        st.tuples(_key_or_none, _ts_or_none, st.integers(-30, 90)), max_size=8
    ),
    bin_s=st.sampled_from([7, 30, 60]),
)
def test_range_join_matches_python_reference(spark, points, intervals, bin_s):
    """Randomized parity with brute-force containment under varying bin
    widths (sub-interval, comparable, super-interval), incl. NULLs and
    degenerate intervals."""
    from readabilityimproved_spark.operators.relational import range_join

    prows = [(i, k, ts) for i, (k, ts) in enumerate(points)]
    ivrows = [
        (j, k, t0, None if t0 is None else t0 + dt.timedelta(seconds=d))
        for j, (k, t0, d) in enumerate(intervals)
    ]
    p = spark.createDataFrame(prows, "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(ivrows, "iid long, k long, t0 timestamp, t1 timestamp")
    got = {
        (r.pid, r.iid)
        for r in range_join(p, iv, on="k", bin_us=bin_s * 1_000_000).collect()
    }
    exp = {
        (pid, iid)
        for pid, pk, ts in prows
        for iid, ik, t0, t1 in ivrows
        if pk is not None and pk == ik
        and None not in (ts, t0, t1) and t0 <= ts <= t1
    }
    assert got == exp
