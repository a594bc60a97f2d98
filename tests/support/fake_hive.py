"""In-memory Hive Metastore test double for HiveCatalog."""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

from iceberg_go_spark.catalog.hive import LOCK_ACQUIRED, LOCK_WAITING

LOCK_NOT_ACQUIRED = "NOT_ACQUIRED"


class FakeHiveMetastoreClient:
    """In-memory Thrift-metastore-shaped client.

    Real EXCLUSIVE table-lock semantics: one holder per resource set;
    conflicting requests queue as WAITING and acquire in FIFO order when
    the holder unlocks — exactly the behavior the commit path's
    lock/check_lock/unlock protocol depends on.
    """

    def __init__(self):
        self._dbs: Dict[str, Dict[str, Any]] = {}
        self._tables: Dict[Tuple[str, str], Dict[str, Any]] = {}
        self._locks: Dict[int, Dict[str, Any]] = {}
        self._next_lock_id = 1

    # -- databases --
    def get_database(self, name: str) -> Optional[Dict[str, Any]]:
        d = self._dbs.get(name)
        return dict(d) if d is not None else None

    def create_database(self, db: Dict[str, Any]) -> None:
        if db["name"] in self._dbs:
            raise ValueError(f"database exists: {db['name']}")
        self._dbs[db["name"]] = dict(db)

    def alter_database(self, name: str, db: Dict[str, Any]) -> None:
        if name not in self._dbs:
            raise ValueError(f"no such database: {name}")
        self._dbs[name] = dict(db)

    def drop_database(self, name: str, delete_data: bool,
                      cascade: bool) -> None:
        if name not in self._dbs:
            raise ValueError(f"no such database: {name}")
        tables = [k for k in self._tables if k[0] == name]
        if tables and not cascade:
            raise ValueError(f"database not empty: {name}")
        del self._dbs[name]
        for k in tables:
            del self._tables[k]

    def get_all_databases(self) -> List[str]:
        return sorted(self._dbs)

    # -- tables --
    def get_table(self, db: str, name: str) -> Optional[Dict[str, Any]]:
        t = self._tables.get((db, name))
        return dict(t) if t is not None else None

    def create_table(self, tbl: Dict[str, Any]) -> None:
        key = (tbl["dbName"], tbl["tableName"])
        if key[0] not in self._dbs:
            raise ValueError(f"no such database: {key[0]}")
        if key in self._tables:
            raise ValueError(f"table exists: {key}")
        self._tables[key] = dict(tbl)

    def alter_table(self, db: str, name: str,
                    new_tbl: Dict[str, Any]) -> None:
        if (db, name) not in self._tables:
            raise ValueError(f"no such table: {db}.{name}")
        new_key = (new_tbl["dbName"], new_tbl["tableName"])
        if new_key != (db, name) and new_key in self._tables:
            raise ValueError(f"table exists: {new_key}")
        del self._tables[(db, name)]
        self._tables[new_key] = dict(new_tbl)

    def drop_table(self, db: str, name: str, delete_data: bool) -> None:
        if (db, name) not in self._tables:
            raise ValueError(f"no such table: {db}.{name}")
        del self._tables[(db, name)]

    def get_tables(self, db: str, pattern: str) -> List[str]:
        return sorted(n for (d, n) in self._tables if d == db)

    # -- locks --
    def _resources(self, req: Dict[str, Any]) -> frozenset:
        return frozenset((c["dbname"], c.get("tablename"))
                         for c in req["component"])

    def _holders(self) -> List[Dict[str, Any]]:
        return [l for l in self._locks.values()
                if l["state"] == LOCK_ACQUIRED]

    def lock(self, request: Dict[str, Any]) -> Dict[str, Any]:
        res = self._resources(request)
        lock_id = self._next_lock_id
        self._next_lock_id += 1
        blocked = any(res & self._resources(h["request"])
                      for h in self._holders())
        state = LOCK_WAITING if blocked else LOCK_ACQUIRED
        self._locks[lock_id] = {"state": state, "request": request,
                                "order": lock_id}
        return {"lockid": lock_id, "state": state}

    def check_lock(self, lock_id: int) -> Dict[str, Any]:
        l = self._locks.get(lock_id)
        if l is None:
            return {"lockid": lock_id, "state": LOCK_NOT_ACQUIRED}
        self._promote()
        return {"lockid": lock_id, "state": self._locks[lock_id]["state"]}

    def unlock(self, lock_id: int) -> None:
        self._locks.pop(lock_id, None)
        self._promote()

    def _promote(self) -> None:
        # FIFO: oldest WAITING lock whose resources are now free acquires
        for l in sorted(self._locks.values(), key=lambda x: x["order"]):
            if l["state"] != LOCK_WAITING:
                continue
            res = self._resources(l["request"])
            if not any(res & self._resources(h["request"])
                       for h in self._holders()):
                l["state"] = LOCK_ACQUIRED
