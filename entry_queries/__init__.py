"""The queries behind ``__spark_entry__.py``, one module per family.

Each module registers its rows in ``common.ROWS`` as it is imported
(``@query(oracle=...)`` on a builder named after the query), so the
import order below is the registry's order.
"""

from entry_queries import (  # noqa: F401 (importing registers the rows)
    relational,
    events,
    text,
    similarity,
    document_etl,
    layout,
    evaluation,
    crawl,
)
from entry_queries.common import ROWS  # noqa: F401
