"""Config-file catalog registry.

Parity (behavior only): /root/reference/config/config.go — a YAML file
(``.iceberg-go-spark.yaml``, reference name ``.iceberg-go.yaml``) declares
named catalogs with their type/URI/warehouse plus a ``default-catalog``
name and a ``max-workers`` worker cap; the CLI resolves a catalog by name
with fallback name -> file's default-catalog -> "default", and flags given
explicitly on the command line beat file values (main.go:835-870
applyConfigFile / mergeConf).

File shape::

    default-catalog: prod
    max-workers: 5
    catalog:
      prod:
        type: rest
        uri: http://localhost:8181
        warehouse: /data/warehouse
        credential: t0ken
      local:
        type: sql
        uri: sqlite:////tmp/cat.db
        warehouse: /tmp/wh

Unknown keys are preserved in ``CatalogConfig.extra`` (forward
compatibility, mirroring the reference's tolerant yaml decode).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

CONFIG_FILE_NAME = ".iceberg-go-spark.yaml"
DEFAULT_MAX_WORKERS = 5  # config.go defaultMaxWorkers
_KNOWN_KEYS = {"type", "uri", "output", "credential", "warehouse",
               "aws-profile", "rest"}


class ConfigError(Exception):
    """The config file exists but cannot be read or parsed."""


@dataclass
class RestOptions:
    """REST-catalog signing options (config.go RestOptions)."""
    sigv4_enabled: bool = False
    signing_name: str = ""
    signing_region: str = ""


@dataclass
class CatalogConfig:
    """One named catalog entry (config.go CatalogConfig)."""
    catalog_type: str = ""
    uri: str = ""
    output: str = ""
    credential: str = ""
    warehouse: str = ""
    aws_profile: str = ""
    rest_options: Optional[RestOptions] = None
    extra: dict = field(default_factory=dict)


@dataclass
class Config:
    default_catalog: str = "default"
    catalogs: dict = field(default_factory=dict)
    max_workers: int = DEFAULT_MAX_WORKERS


def load_config_file(config_path: str = "") -> Optional[str]:
    """Return the config file's text, or None when the *implicit*
    (home-directory) file does not exist.  An explicit path that cannot
    be read raises ConfigError (config.go LoadConfigFile)."""
    implicit = not config_path
    if implicit:
        home = os.environ.get("ICEBERG_GO_SPARK_HOME") or os.path.expanduser("~")
        path = os.path.join(home, CONFIG_FILE_NAME)
    else:
        path = config_path
    path = os.path.abspath(path)
    try:
        with open(path, "r", encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        if implicit:
            return None
        raise ConfigError(f"read config file {path}: not found")
    except OSError as exc:  # pragma: no cover - permissions etc.
        raise ConfigError(f"read config file {path}: {exc}")


def _catalog_from_mapping(raw: dict) -> CatalogConfig:
    rest = None
    raw_rest = raw.get("rest")
    if isinstance(raw_rest, dict):
        rest = RestOptions(
            sigv4_enabled=bool(raw_rest.get("sigv4-enabled", False)),
            signing_name=str(raw_rest.get("signing-name", "") or ""),
            signing_region=str(raw_rest.get("signing-region", "") or ""),
        )
    return CatalogConfig(
        catalog_type=str(raw.get("type", "") or ""),
        uri=str(raw.get("uri", "") or ""),
        output=str(raw.get("output", "") or ""),
        credential=str(raw.get("credential", "") or ""),
        warehouse=str(raw.get("warehouse", "") or ""),
        aws_profile=str(raw.get("aws-profile", "") or ""),
        rest_options=rest,
        extra={k: v for k, v in raw.items() if k not in _KNOWN_KEYS},
    )


def parse_config_text(text: Optional[str]) -> Config:
    """Parse the whole file (config.go fromConfigFiles semantics:
    default-catalog falls back to "default", max-workers floor-clamped)."""
    cfg = Config()
    if not text:
        return cfg
    try:
        import yaml
        raw = yaml.safe_load(text)
    except Exception as exc:
        raise ConfigError(f"parse config: {exc}")
    if raw is None:
        return cfg
    if not isinstance(raw, dict):
        raise ConfigError("parse config: top level must be a mapping")
    cfg.default_catalog = str(raw.get("default-catalog") or "default")
    mw = raw.get("max-workers")
    if isinstance(mw, int) and mw > 0:
        cfg.max_workers = mw
    cats = raw.get("catalog") or {}
    if not isinstance(cats, dict):
        raise ConfigError("parse config: 'catalog' must be a mapping")
    for name, entry in cats.items():
        if isinstance(entry, dict):
            cfg.catalogs[str(name)] = _catalog_from_mapping(entry)
    return cfg


def parse_config(text: Optional[str], catalog_name: str = "") -> Optional[CatalogConfig]:
    """Resolve one catalog: explicit name -> file default-catalog ->
    "default"; None when the file doesn't define it (config.go
    ParseConfig)."""
    if not text:
        return None
    cfg = parse_config_text(text)
    name = catalog_name or cfg.default_catalog or "default"
    return cfg.catalogs.get(name)


def resolve_catalog(cat_cfg: CatalogConfig, client=None):
    """Instantiate the engine catalog described by a config entry
    (main.go:386-440 catalog-type switch).  ``client`` injects the
    metastore client for glue/hive (a real boto3/thrift client, or a
    test double from ``tests/support``); without one those types raise."""
    ctype = (cat_cfg.catalog_type or "").lower()
    if ctype in ("", "filesystem", "fs", "hadoop"):
        wh = cat_cfg.warehouse or cat_cfg.uri
        if not wh:
            raise ConfigError("filesystem catalog needs a warehouse")
        from .catalog import FilesystemCatalog
        return FilesystemCatalog(wh)
    if ctype == "sql":
        from .catalog.sql import SqlCatalog
        wh = cat_cfg.warehouse or cat_cfg.uri
        if not wh:
            raise ConfigError("sql catalog needs a warehouse")
        db = cat_cfg.uri
        if db.startswith("sqlite:"):
            db = db[len("sqlite:"):].lstrip("/")
            db = "/" + db if db else None
        if db == wh:
            db = None
        return SqlCatalog(wh, db_path=db or None)
    if ctype == "rest":
        from .catalog.rest import RestCatalog
        if not cat_cfg.uri:
            raise ConfigError("rest catalog needs a uri")
        kwargs = {}
        ro = cat_cfg.rest_options
        if ro is not None and ro.sigv4_enabled:
            # keys from env per AWS convention; the signer itself is
            # offline (catalog/sigv4.py, verified against the documented
            # AWS example vector)
            import os as _os
            region = ro.signing_region or _os.environ.get("AWS_REGION", "")
            if not region:
                raise ConfigError(
                    "rest.sigv4-enabled needs rest.signing-region or "
                    "AWS_REGION — refusing to silently send unsigned "
                    "requests")
            kwargs.update(
                sigv4_region=region,
                sigv4_service=ro.signing_name or "execute-api",
                sigv4_access_key=_os.environ.get("AWS_ACCESS_KEY_ID"),
                sigv4_secret_key=_os.environ.get("AWS_SECRET_ACCESS_KEY"),
                sigv4_session_token=_os.environ.get("AWS_SESSION_TOKEN"))
        return RestCatalog(cat_cfg.uri,
                           warehouse=cat_cfg.warehouse or None,
                           credential=cat_cfg.credential or None,
                           **kwargs)
    if ctype == "glue":
        from .catalog.glue import GlueCatalog
        if client is None:
            # registrar path (glue.go:92-101): resolve a REAL boto3
            # client from the glue.* AWS properties — region, endpoint,
            # retries, static creds (validated), else the default
            # provider chain
            try:
                cat = GlueCatalog.from_properties(
                    cat_cfg.warehouse or "", cat_cfg.extra)
                if cat.catalog_id is None:
                    # both spellings reach here: the reference's
                    # "glue.id" (handled by from_properties) and this
                    # config format's "catalog-id" (the injected-client
                    # branch below honors it too)
                    cat.catalog_id = cat_cfg.extra.get("catalog-id")
                return cat
            except ImportError as e:
                raise ConfigError(
                    "glue catalog needs boto3 (not importable here) or "
                    "an injected client") from e
            except Exception as e:
                # boto3 present but the AWS config chain is incomplete
                # (no region, bad creds shape, ...) — a config problem
                raise ConfigError(
                    f"glue catalog AWS config resolution failed: "
                    f"{type(e).__name__}: {e}") from e
        return GlueCatalog(cat_cfg.warehouse or "", client,
                           catalog_id=cat_cfg.extra.get(
                               "catalog-id", cat_cfg.extra.get("glue.id")))
    if ctype == "hive":
        if client is None:
            raise ConfigError("hive catalog needs a metastore client")
        from .catalog.hive import HiveCatalog
        return HiveCatalog(cat_cfg.warehouse or "", client)
    raise ConfigError(f"unknown catalog type {cat_cfg.catalog_type!r}")
