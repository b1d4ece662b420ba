"""Named query registry: each entry pairs a Spark DataFrame plan with the
ANSI-SQL oracle DuckDB runs on the same parquet tables.

Importing the package (or any module in it) registers every query, in the
order of the imports below, and then puts the driver window first. Python
runs a package's ``__init__`` to its end before it returns any submodule,
so a process that imports one plan module first (a Python worker
unpickling a helper, say) still sees the whole registry in window order.

There is one module per query family; the comments below list the
query-name prefixes each holds. A new family module must be added to
this list; a helper that two or more families use goes in ``common``,
which registers nothing.
"""

# queries: pricing, revenue, argmax, join, window, top, topk, orderby, point,
# setops, subquery, scalar, pivot, rollup, sql, observe, pareto, cleaner,
# populator, scrape; it also exports REGISTRY and SKILLS_VOCAB
from . import queries  # noqa: F401
from . import tpch  # noqa: F401  (tpch)
from . import agg  # noqa: F401  (agg, quality, compliance, audit)
from . import events  # noqa: F401  (events, customer)
from . import orders  # noqa: F401  (orders, supplier, part, compaction, mart, snapshot, scd2, mv, ops)
from . import ml  # noqa: F401  (ml, recsys, causal, graph, geo)
from . import corpus  # noqa: F401  (corpus)
from . import text  # noqa: F401  (text, tokenizer)
from . import dedup  # noqa: F401  (dedup)
from . import ann  # noqa: F401  (ann, embedding)
from . import streaming  # noqa: F401  (streaming)
from . import formats  # noqa: F401  (sink, csv, html, xml, parquet, python, layout, multimodal)
from .registry import apply_window

apply_window()
