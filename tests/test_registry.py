"""Registry order: the driver window leads no matter which plan module a
process imports first, and ``apply_window`` rejects a malformed window."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from job_datapipeline_spark.plans.registry import DRIVER_WINDOW, REGISTRY, apply_window

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sibling_first_import_sees_window_order():
    # A Python worker unpickling a helper imports its plan module first.
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "import job_datapipeline_spark.plans.llm_round5l\n"
        "from job_datapipeline_spark.plans import queries, registry\n"
        "print(json.dumps([list(queries.REGISTRY), list(registry.DRIVER_WINDOW)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    ).stdout
    names, window = json.loads(out.strip().splitlines()[-1])
    assert len(names) == 363
    assert names[:50] == window


@pytest.mark.parametrize(
    "window, message",
    [
        (DRIVER_WINDOW[:49] + ("no_such_query",), "unknown queries"),
        (DRIVER_WINDOW[:49] + (DRIVER_WINDOW[0],), "duplicate names"),
        (DRIVER_WINDOW[:49], "all 50 slots"),
    ],
    ids=["unregistered", "duplicate", "49_names"],
)
def test_apply_window_rejects_malformed_window(window, message):
    before = list(REGISTRY)
    with pytest.raises(AssertionError, match=message):
        apply_window(window)
    assert list(REGISTRY) == before
