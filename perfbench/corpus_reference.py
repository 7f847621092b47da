"""Regenerate ``corpus_reference.json``: the row count and result hash of
each corpus_ops query, evaluated by its DuckDB oracle over the fixed
benchmark corpus. Run from the root of a checkout:

    python3 -m perfbench.corpus_reference
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS_DOCS,
    CORPUS_REFERENCE,
    CORPUS_SEED,
    corpus_reference,
)

if __name__ == "__main__":
    base = os.path.join(os.path.dirname(os.path.dirname(CORPUS_REFERENCE)), ".perfbench")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as d:
        inputs.write_documents(CORPUS_SEED, CORPUS_DOCS, d)
        ref = corpus_reference(d)
    with open(CORPUS_REFERENCE, "w") as f:
        json.dump({"seed": CORPUS_SEED, "docs": CORPUS_DOCS, "queries": ref}, f, indent=1)
        f.write("\n")
