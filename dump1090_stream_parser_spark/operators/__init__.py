"""Operator inventory (SURVEY.md §2).

Importing this package registers every query in the engine-wide registry
(`.registry.REGISTRY`): Tier B relational surface, Tier C training-data
extensions, and the SBS-1 domain queries. ``__spark_entry__.py`` exposes
the registry to the driver harness; ``registry.window_order`` decides
which 50 queries the driver oracles.
"""

from . import relational  # noqa: F401
from . import joins  # noqa: F401
from . import windows  # noqa: F401
from . import text  # noqa: F401
from . import dedup  # noqa: F401
from . import similarity  # noqa: F401
from . import multimodal  # noqa: F401
from . import pipeline_ops  # noqa: F401
from . import inference  # noqa: F401
from . import composite  # noqa: F401
from . import sbs1_gold  # noqa: F401
from . import timeseries  # noqa: F401
from . import statistics  # noqa: F401
from . import indexing  # noqa: F401
from . import linkage  # noqa: F401
from . import attribution  # noqa: F401
from . import rollup_merge  # noqa: F401
from . import basket  # noqa: F401
from . import sequence  # noqa: F401
from . import skyline  # noqa: F401
from . import cdc  # noqa: F401
from . import spatial  # noqa: F401
from . import graph  # noqa: F401
from . import storage  # noqa: F401

from .registry import REGISTRY, oracle_sql_map, queries_map  # noqa: F401
