"""Test doubles for the catalog and object-store clients.

In-memory and local-wire stand-ins (Glue, Hive Metastore, Postgres-family
DB-API connections, a throwaway PostgreSQL cluster, an S3 REST endpoint)
that the engine's duck-typed client seams accept unchanged.  They live
with the tests, not in the ``iceberg_go_spark`` package.
"""
