"""Write the base text corpus the benchmark splices its document shards from.

Usage: python3 perfbench/make_corpus.py <sf_dir> [out.parquet]

Copies the ``doc_id``, ``text``, ``lang`` and ``source`` columns of
``<sf_dir>/documents.parquet`` (the sf0.1 test corpus that
``tools/gen_sf.py`` scales) to ``perfbench/corpus.parquet``.  The
benchmark reads only that committed file, so a run needs nothing outside
its checkout; its shards splice these texts the way ``tools/gen_sf.py``
does, so they keep the corpus' own vocabulary, lengths and near-duplicate
structure.
"""

from __future__ import annotations

import os
import sys

COLUMNS = ["doc_id", "text", "lang", "source"]


def make(sf_dir: str, out: str) -> None:
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=COLUMNS)
    pq.write_table(t.replace_schema_metadata(None), out,
                   compression="zstd", compression_level=19)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    make(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "corpus.parquet"))
