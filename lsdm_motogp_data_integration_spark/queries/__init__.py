"""The driver queries, one module per operator family. Importing this
package registers every query with :mod:`.registry`; see there for the
``@query`` declaration."""

from lsdm_motogp_data_integration_spark.queries import (
    aggregation,
    ann,
    capabilities,
    dedup,
    events,
    fuzzy,
    joins,
    motogp,
    multimodal,
    scalar,
    scan,
    text,
)

__all__ = [
    "aggregation",
    "ann",
    "capabilities",
    "dedup",
    "events",
    "fuzzy",
    "joins",
    "motogp",
    "multimodal",
    "scalar",
    "scan",
    "text",
]
