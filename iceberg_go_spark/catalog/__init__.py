from .filesystem import (CommitConflictError, FilesystemCatalog,
                         NoSuchTableError, TableAlreadyExistsError)
from .sql import (MSSQLDialect, MySQLDialect, OracleDialect,
                  PostgresDialect, SqliteDialect, SqlCatalog)
from .rest import RestCatalog, RestCatalogServer
from .glue import GlueCatalog, NoSuchNamespaceError
from .hive import HiveCatalog, LockAcquisitionError
from .multi_table import MultiTableTransaction, TableCommit

__all__ = ["FilesystemCatalog", "SqlCatalog",
           "SqliteDialect", "PostgresDialect", "MySQLDialect",
           "MSSQLDialect", "OracleDialect", "RestCatalog",
           "RestCatalogServer", "GlueCatalog", "HiveCatalog",
           "LockAcquisitionError", "CommitConflictError",
           "NoSuchTableError", "TableAlreadyExistsError",
           "NoSuchNamespaceError", "MultiTableTransaction", "TableCommit"]
from .registry import (CatalogNotFoundError, load_catalog,
                       register_catalog, registered_catalogs,
                       unregister_catalog)
