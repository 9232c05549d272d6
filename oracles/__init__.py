"""Registry records and DuckDB oracles, one module per package module.

Each module declares its entries once, as ``ENTRIES = {name: (builder,
oracle)}``. ``builder`` is the package's ``(spark, sf_dir) ->
DataFrame`` function; ``oracle`` is a zero-argument builder of the
DuckDB SQL that computes the same rows from the same tables, or
``None`` for a rows-only entry. The package never imports this one.
"""

from . import (
    bpe, charts, dedup, multimodal, queries, queries_ext, search, similarity,
    sketches, text,
)

# the order queries() lists entries in, after its check-first window
MODULES = (queries, queries_ext, charts, dedup, text, similarity, sketches,
           bpe, search, multimodal)
