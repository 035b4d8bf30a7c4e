from .queries import QUERIES, flagship
from . import advanced_queries  # noqa: F401  (registers Qkeys)
from . import core_relational  # noqa: F401  (registers Qkeys)
from . import curation_queries  # noqa: F401  (registers Qkeys)
from . import eval_queries  # noqa: F401  (registers Qkeys)
from . import llm_ops  # noqa: F401  (registers Qkeys)
from . import mining_queries  # noqa: F401  (registers Qkeys)
from . import olap_suite  # noqa: F401  (registers Qkeys)
from . import report_queries  # noqa: F401  (registers Qkeys)
from . import retrieval_queries  # noqa: F401  (registers Qkeys)
from . import sink_queries  # noqa: F401  (registers Qkeys)
from . import streaming_queries  # noqa: F401  (registers Qkeys)
from .oracle import ORACLE

# Registration order only: the driver's sweep order (which keys come
# first) is part of the driver contract, see __spark_entry__.py.

__all__ = ["QUERIES", "ORACLE", "flagship"]
