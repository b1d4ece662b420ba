"""``catalog.literal_dim`` (one JSON literal through ``from_json``) against
the struct-literal construction it replaced, for every schema string the
package passes it: same column names, types and values, doubles bit for bit.
Plan-build cost is pinned too: a constant number of py4j calls whatever the
row count, and no Spark job."""

from __future__ import annotations

import ast
import gc
import math
import pathlib
import struct
import threading

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from conftest import jobs_in_group
from job_datapipeline_spark.catalog import literal_dim
from job_datapipeline_spark.plans.common import QC_WEIGHTS
from job_datapipeline_spark.plans.formats import _XML_FEED, _calendar_rows, _N_BUCKETS
from job_datapipeline_spark.plans.queries import (
    _CIDR_BLOCKS,
    _JOBS_ROWS,
    _SALARY_CASES,
    _SIZE_CASES,
    SKILLS_VOCAB,
)
from job_datapipeline_spark.plans.text import _BM25_QUERIES, _UENC_VOCAB
from job_datapipeline_spark.sources import html_fixtures as FX

PKG = pathlib.Path(__file__).resolve().parents[1] / "job_datapipeline_spark"

_ODD_DOUBLES = [
    (None, 0.1, -0.0),
    (float("nan"), float("inf"), float("-inf")),
    (5e-324, 1.7976931348623157e308, 2.0**53 + 1),
    (1, 1e18, 123456.789),
]
_ODD_STRINGS = [("",), (None,), ("quote ' \" back \\ slash",), ("tab\tnl\n",), ("naïve — ünï 😀",)]

# Rows per schema: the rows each call site passes, plus edge values.
CASES: dict[str, list[tuple]] = {
    "band string, lo double, hi double": [
        ("low", 0.0, 50000.0), ("mid", 50000.0, 200000.0), ("high", 200000.0, 1e18),
    ] + [("odd", *r[1:]) for r in _ODD_DOUBLES] + [(None, None, None)],
    "token string": [(s,) for s in SKILLS_VOCAB] + _ODD_STRINGS,
    "salary string": [(s,) for s, *_ in _SALARY_CASES],
    "company_size string": [(s,) for s, *_ in _SIZE_CASES],
    "url string, counter string, filename string": [
        ("example.com/a", "7,764 Jobs", "17-08-2021data-scientist-remote.csv"),
        ("http://x.io", "Page 1 of 30", "31-08-2021data-engineer-all.csv"),
    ],
    "company_name string, company_rating double, "
    "company_estimated_salary string, company_size string": list(_JOBS_ROWS),
    "job string": [("42",), ("007",), ("999",)],
    "p string, lbl string": [("1-URGENT", "expedite"), ("5-LOW", "batch"), (None, "x")],
    "n_rows bigint, n_bad_price bigint, n_null_cust bigint": [
        (0, 7, 3), (2**63 - 1, -(2**63), None),
    ],
    "label string, lo long, hi long, prefix_len int": [
        (label, base, base + (1 << (32 - ln)) - 1, ln) for label, base, ln in _CIDR_BLOCKS
    ],
    "q_id bigint, term string": list(_BM25_QUERIES),
    "bucket int, wgt double": list(QC_WEIGHTS) + [(2**31 - 1, float("nan")), (-(2**31), -0.0)],
    "piece string, cost bigint": list(_UENC_VOCAB),
    "url string, html string": FX.listing_fixture_rows()
    + [(FX.RESULT_PAGE_URL, FX.render_result_page_html())],
    "feed_id int, xml string": list(_XML_FEED),
    "boundary_idx int": [(i,) for i in range(1, _N_BUCKETS)],
    "cal_month string, quarter string": _calendar_rows(),
    "currency string, rate double": [("USD", 1.0), ("GBP", 0.8), ("EUR", 0.9)],
    "search_term string": [("data-scientist",), ("data engineer",)],
    "location string, country_code string": [("London", "UK"), ("New York", "US")],
}


def _struct_literal_dim(spark, rows, schema):
    """The construction ``literal_dim`` replaced: one cast literal per value."""
    st = StructType.fromDDL(schema)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, st.fields)])
        for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def _bits(v):
    return ("f", struct.pack(">d", v)) if isinstance(v, float) else v


def test_every_literal_dim_schema_is_covered():
    """An AST scan of the package: each schema string passed to
    ``literal_dim`` has a case above, and each case is passed somewhere."""
    found = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "literal_dim":
                schema = node.args[2]
                assert isinstance(schema, ast.Constant), f"{path}:{node.lineno}"
                found.add(schema.value)
    assert found == set(CASES)


def test_literal_dim_matches_struct_literals(spark):
    for schema, rows in CASES.items():
        got = literal_dim(spark, rows, schema)
        want = _struct_literal_dim(spark, rows, schema)
        assert got.dtypes == want.dtypes, schema
        got_rows = [tuple(_bits(v) for v in r) for r in got.collect()]
        want_rows = [tuple(_bits(v) for v in r) for r in want.collect()]
        assert got_rows == want_rows, schema
    nan = literal_dim(spark, [(float("nan"),)], "x double").first()[0]
    assert math.isnan(nan)


def test_literal_dim_builds_in_constant_py4j_calls(spark):
    """py4j calls to build the plan do not grow with the row count. Other
    threads and the proxies that Python frees send py4j commands of their
    own, so only this thread's calls count, with the cyclic collector off,
    after a collection, as the least of three builds."""
    from py4j import java_gateway

    calls = [0]
    send = java_gateway.GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *a, **k):
        calls[0] += threading.get_ident() == me
        return send(self, *a, **k)

    per_size = {}
    java_gateway.GatewayClient.send_command = counting
    gc.collect()
    gc.disable()
    try:
        for n in (1, 100):
            rows = [(f"t{i}", float(i)) for i in range(n)]
            counts = []
            for _ in range(3):
                calls[0] = 0
                literal_dim(spark, rows, "t string, x double")
                counts.append(calls[0])
            per_size[n] = min(counts)
    finally:
        gc.enable()
        java_gateway.GatewayClient.send_command = send
    assert per_size[100] == per_size[1], per_size
    rows = [("t", 1.0)] * 100
    assert jobs_in_group(spark, "literal_dim", lambda: literal_dim(spark, rows, "t string, x double")) == []
