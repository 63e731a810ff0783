"""dads_spark — a from-scratch PySpark-native time-series rollup + retention +
sequential-anomaly engine with the query/data-processing capabilities of the
reference system HPI-Information-Systems/DADS (a Java/Akka distribution of the
Series2Graph subsequence-anomaly algorithm).

Layout
------
- ``s2g``        : the Series2Graph anomaly pipeline — a pure-NumPy oracle
                   (``s2g.core`` / ``s2g.oracle``) plus the distributed Spark
                   implementation (``s2g.pipeline``), whose slice stages
                   run behind ``groupBy().applyInArrow``.
- ``groups``     : the whole-group ``mapInArrow`` runner that the per-series
                   operators (grouped S2G, discords, PELT, gap-fill, blob
                   encoding, matrix profile) and the t-digest merges run on,
                   and ``per_group``, the ``applyInArrow`` boundary of the
                   slice-keyed stages (sliced S2G, embedding PCA).
- ``rollup``     : per-key series derivation, hour/day/week continuous
                   aggregates, linear-interpolation gap-fill.
- ``compress``   : Gorilla XOR float compression + delta-of-delta timestamps
                   (vectorized NumPy bit packing).
- ``ops``        : web-scale corpus operators — dedup (exact/minhash/simhash),
                   similarity search, text analysis.
- ``fixtures``   : deterministic synthetic inputs (pages table, benchmark
                   series).
- ``checkpoint`` : per-stage manifest with per-partition lineage + row counts,
                   resume-from-last-committed-tier.
- ``io``         : binary double-series reader/writer matching the reference's
                   on-disk format, text score sink.
"""

__version__ = "0.1.0"
