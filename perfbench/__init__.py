"""Seeded, closed-loop benchmark of the rados_timestore_spark engine."""
