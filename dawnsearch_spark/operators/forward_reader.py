"""Driver-side pruned forward-index reads via pyarrow — the one document read
(the reference's per-id row-store lookups, ``src/search/search_provider.rs``
:218-240). The forward index is written as contiguous doc_id ranges, so a
``doc_id IN (...)`` filter lets row-group statistics skip every file and row
group outside the ids: zero Spark jobs."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pds


def read_forward_rows(documents_dir: str, doc_ids, columns: list[str]) -> pa.Table:
    """Rows whose ``doc_id`` is in ``doc_ids`` (file order; ids with no row
    are absent) with the requested ``columns`` in the order given, minus any
    the index lacks — callers learn optional columns from the result."""
    ds = pds.dataset(documents_dir, format="parquet")
    return ds.to_table(
        columns=[c for c in columns if c in ds.schema.names],
        filter=pds.field("doc_id").isin(pa.array(np.asarray(doc_ids, np.int64))),
    )
