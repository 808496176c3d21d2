"""Seeded data generators used by the tests and by ``lakebench``.

``ref10m.gen_transactions`` builds the reference's transactions table at any
row count; ``scaleup`` replicates the TPC-H corpus to a larger scale factor;
``bucketed`` writes lineitem and orders bucketed on orderkey for the q30
bucketed-join plan.
"""
