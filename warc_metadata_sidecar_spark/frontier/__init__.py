"""Distributed crawl frontier + politeness scheduler (BASELINE.json north_rule).

The reference processes one WARC file in one thread (warc_metadata_sidecar.py:
205). The north rule replaces that with a distributed frontier whose fetched
documents feed the sidecar extraction stage. Modules:

  canonical.py  N1: URL canonicalization, host extraction, host salting
  seen.py       N2: URL-seen membership — sharded layered Bloom filters
                probed on executors + exact anti-join
  scheduler.py  N3/N4: partitioned priority queue + politeness/robots budget
  crawl.py      the iterative round driver: select -> fetch -> extract ->
                discover -> checkpoint/lineage (N5/N6/N7)
  simulator.py  single-threaded reference implementation for ordering and
                URL-seen-set equality checks
"""
