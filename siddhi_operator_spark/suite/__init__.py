"""The registered query suite — one entry per implemented operator from
SURVEY.md §3, each with (where SQL-expressible) a DuckDB oracle.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. Importing this package registers everything.
"""

from __future__ import annotations

from .registry import REGISTRY, QuerySpec, register  # noqa: F401

# registration side effects
from . import core  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import aggs  # noqa: E402,F401
from . import patterns  # noqa: E402,F401
from . import ratelimit  # noqa: E402,F401
from . import incremental  # noqa: E402,F401
from . import tables  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import streaming_suite  # noqa: E402,F401
from . import siddhiql_suite  # noqa: E402,F401
from . import collections  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import cdc  # noqa: E402,F401
from . import ml_suite  # noqa: E402,F401
from . import sources_suite  # noqa: E402,F401
