"""The query entries ``__spark_entry__.py`` exposes and the DuckDB
oracles that check them, kept out of the runtime package.

- ``operators.ENTRIES``: each operator entry's (spark, sf_dir) build
  function and its hand-written DuckDB oracle SQL;
- ``_gen_oracles.ORACLES``: DuckDB oracle SQL generated from each PRQL
  entry (``scripts/gen_oracles.py`` via ``typed_oracle``);
- ``_ivf_centroids``: pretrained centroid literals the IVF and
  SemDeDup entries and their oracles share
  (``scripts/gen_ivf_centroids.py``).

``__spark_entry__.py`` combines these with its PRQL entries. Nothing
under ``prql_spark/`` imports this package.
"""
