from .registry import QUERIES, QuerySpec, register

# Importing the plan modules populates the registry; its order is the
# registration order.
from . import core_sql  # noqa: E402,F401
from . import core_sql2  # noqa: E402,F401
from . import core_sql3  # noqa: E402,F401
from . import core_sql4  # noqa: E402,F401
from . import core_sql5  # noqa: E402,F401
from . import core_sql6  # noqa: E402,F401
from . import analytics_ops  # noqa: E402,F401
from . import multimodal_ops  # noqa: E402,F401
from . import llm_ops  # noqa: E402,F401
from . import streaming_ops  # noqa: E402,F401
from . import library_gate  # noqa: E402,F401
from . import search_ops  # noqa: E402,F401

__all__ = ["QUERIES", "QuerySpec", "register"]
