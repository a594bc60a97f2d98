"""Config-file catalog registry (parity: /root/reference/config/config.go
+ cmd/iceberg/main.go applyConfigFile/mergeConf)."""

import os
import subprocess
import sys
import textwrap

import pytest

from iceberg_go_spark import config as C

YAML = textwrap.dedent("""\
    default-catalog: prod
    max-workers: 7
    catalog:
      prod:
        type: fs
        warehouse: {wh_prod}
        output: json
      local:
        type: sql
        uri: sqlite:{db}
        warehouse: {wh_local}
      remote:
        type: rest
        uri: http://localhost:1
        credential: t0ken
        rest:
          sigv4-enabled: true
          signing-name: execute-api
          signing-region: us-west-2
      weird:
        type: fs
        warehouse: {wh_prod}
        future-knob: 42
""")


def _write(tmp_path, **wh):
    p = tmp_path / "cfg.yaml"
    p.write_text(YAML.format(**wh))
    return str(p)


@pytest.fixture
def cfg_path(tmp_path):
    return _write(tmp_path,
                  wh_prod=str(tmp_path / "wh_prod"),
                  wh_local=str(tmp_path / "wh_local"),
                  db=str(tmp_path / "cat.db"))


def test_parse_whole_file(cfg_path):
    cfg = C.parse_config_text(C.load_config_file(cfg_path))
    assert cfg.default_catalog == "prod"
    assert cfg.max_workers == 7
    assert set(cfg.catalogs) == {"prod", "local", "remote", "weird"}


def test_resolution_order_name_default_builtin(cfg_path, tmp_path):
    text = C.load_config_file(cfg_path)
    # explicit name
    assert C.parse_config(text, "local").catalog_type == "sql"
    # empty name -> file default-catalog
    assert C.parse_config(text, "").warehouse.endswith("wh_prod")
    # unknown name -> None (config.go ParseConfig)
    assert C.parse_config(text, "nope") is None
    # file without default-catalog falls back to "default"
    p = tmp_path / "d.yaml"
    p.write_text("catalog:\n  default:\n    type: fs\n    warehouse: /tmp/x\n")
    assert C.parse_config(p.read_text(), "").warehouse == "/tmp/x"


def test_missing_implicit_vs_explicit(tmp_path, monkeypatch):
    monkeypatch.setenv("ICEBERG_GO_SPARK_HOME", str(tmp_path / "nohome"))
    assert C.load_config_file("") is None  # implicit missing: not an error
    with pytest.raises(C.ConfigError):
        C.load_config_file(str(tmp_path / "absent.yaml"))


def test_parse_errors():
    with pytest.raises(C.ConfigError):
        C.parse_config_text("catalog: [not, a, mapping]")
    with pytest.raises(C.ConfigError):
        C.parse_config_text("- top\n- level\n- list\n")
    assert C.parse_config_text("").catalogs == {}
    assert C.parse_config(None, "x") is None


def test_rest_options_and_extra_keys(cfg_path):
    text = C.load_config_file(cfg_path)
    remote = C.parse_config(text, "remote")
    assert remote.rest_options.sigv4_enabled is True
    assert remote.rest_options.signing_region == "us-west-2"
    assert remote.credential == "t0ken"
    weird = C.parse_config(text, "weird")
    assert weird.extra == {"future-knob": 42}  # unknown keys preserved


def test_resolve_fs_and_sql(cfg_path, tmp_path):
    text = C.load_config_file(cfg_path)
    cat = C.resolve_catalog(C.parse_config(text, "prod"))
    assert type(cat).__name__ == "FilesystemCatalog"
    cat = C.resolve_catalog(C.parse_config(text, "local"))
    assert type(cat).__name__ == "SqlCatalog"
    assert cat.db_path == str(tmp_path / "cat.db")
    with pytest.raises(C.ConfigError):
        C.resolve_catalog(C.CatalogConfig(catalog_type="glue"))
    with pytest.raises(C.ConfigError):
        C.resolve_catalog(C.CatalogConfig(catalog_type="martian"))


def test_cli_reads_catalog_from_config(cfg_path, tmp_path):
    """End-to-end: CLI with no --warehouse resolves the config default
    catalog; --catalog-name picks another; explicit --warehouse wins."""
    wh = str(tmp_path / "wh_prod")
    os.makedirs(os.path.join(wh, "nsx"), exist_ok=True)
    env = dict(os.environ, PYTHONPATH="/root/repo")

    out = subprocess.run(
        [sys.executable, "-m", "iceberg_go_spark.cli",
         "--config", cfg_path, "list"],
        capture_output=True, text=True, env=env, cwd="/root/repo")
    assert out.returncode == 0, out.stderr
    assert "nsx" in out.stdout

    # --catalog-name local -> sql catalog over empty warehouse
    out = subprocess.run(
        [sys.executable, "-m", "iceberg_go_spark.cli",
         "--config", cfg_path, "--catalog-name", "local", "list"],
        capture_output=True, text=True, env=env, cwd="/root/repo")
    assert out.returncode == 0, out.stderr
    assert "nsx" not in out.stdout

    # explicit --warehouse beats the file (mergeConf)
    wh2 = str(tmp_path / "explicit")
    os.makedirs(os.path.join(wh2, "only_here"), exist_ok=True)
    out = subprocess.run(
        [sys.executable, "-m", "iceberg_go_spark.cli",
         "--config", cfg_path, "--warehouse", wh2, "list"],
        capture_output=True, text=True, env=env, cwd="/root/repo")
    assert out.returncode == 0, out.stderr
    assert "only_here" in out.stdout and "nsx" not in out.stdout


def test_sigv4_enabled_without_region_errors(monkeypatch):
    """Explicitly requested signing must never silently degrade to
    unsigned requests."""
    import pytest as _pytest
    from iceberg_go_spark.config import (CatalogConfig, ConfigError,
                                         RestOptions, resolve_catalog)
    monkeypatch.delenv("AWS_REGION", raising=False)
    cfg = CatalogConfig(catalog_type="rest", uri="http://x:1",
                        rest_options=RestOptions(sigv4_enabled=True))
    with _pytest.raises(ConfigError, match="signing-region"):
        resolve_catalog(cfg)


# ---------------------------------------------------------------------------
# catalog type registry (catalog/registry.go parity)

def test_registry_builtin_types_and_scheme_inference(tmp_path):
    from iceberg_go_spark.catalog import (FilesystemCatalog, load_catalog,
                                          registered_catalogs)
    types = registered_catalogs()
    for t in ("filesystem", "fs", "hadoop", "sql", "rest", "http",
              "https", "glue", "hive", "file", "sqlite"):
        assert t in types
    wh = str(tmp_path / "wh")
    c = load_catalog(props={"type": "filesystem", "warehouse": wh})
    assert isinstance(c, FilesystemCatalog)
    # no type: the uri scheme decides (registry.go:153-160)
    c2 = load_catalog(props={"uri": f"file://{wh}"})
    assert isinstance(c2, FilesystemCatalog)
    assert c2.warehouse == wh


def test_registry_props_override_config(tmp_path):
    from iceberg_go_spark.catalog import load_catalog
    wh = str(tmp_path / "wh2")
    cfg = """
catalog:
  prod: { type: filesystem, warehouse: /from-config }
default-catalog: prod
"""
    # config supplies the type; passed props take priority on warehouse
    # (registry.go:140-148)
    c = load_catalog("prod", props={"warehouse": wh}, config_text=cfg)
    assert c.warehouse == wh
    # default-catalog resolves when no name is passed
    c2 = load_catalog(props={"warehouse": wh}, config_text=cfg)
    assert c2.warehouse == wh


def test_registry_custom_register_unregister():
    from iceberg_go_spark.catalog import (CatalogNotFoundError,
                                          load_catalog, register_catalog,
                                          unregister_catalog)

    class Custom:
        def __init__(self, name, props):
            self.name, self.props = name, props

    register_catalog("myext", Custom)
    try:
        got = load_catalog("n1", props={"type": "MyExt", "k": "v"})
        assert isinstance(got, Custom) and got.props["k"] == "v"
    finally:
        unregister_catalog("myext")
    with pytest.raises(CatalogNotFoundError):
        load_catalog(props={"type": "myext"})
    # unknown scheme and absent type also raise (registry.go:162-165)
    with pytest.raises(CatalogNotFoundError):
        load_catalog(props={"uri": "bogus://x"}, config_text="")


def test_cli_uri_flag_routes_through_registry(tmp_path, capsys):
    from iceberg_go_spark.cli import main as cli_main
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    from iceberg_go_spark import types as T
    wh = str(tmp_path / "wh3")
    cat = FilesystemCatalog(wh)
    cat.create_table("db.t", Schema([
        T.NestedField(1, "id", T.LongType())]))
    rc = cli_main(["--uri", f"file://{wh}", "list", "db"])
    assert rc == 0
    assert "db.t" in capsys.readouterr().out


def test_resolve_glue_from_aws_properties(tmp_path):
    """The registrar path resolves a REAL boto3 client from glue.*
    properties (region/endpoint/static creds — reference toAwsConfig,
    glue.go:103-135) and the catalog works end-to-end against the local
    wire endpoint; incomplete static creds are a ConfigError."""
    import pytest as _pytest
    _pytest.importorskip("boto3")
    from tests.support.glue_local import LocalGlueWireServer
    import iceberg_go_spark.config as C

    server = LocalGlueWireServer().start()
    try:
        cat = C.resolve_catalog(C.CatalogConfig(
            catalog_type="glue", warehouse=str(tmp_path / "wh"),
            extra={"glue.region": "us-east-1",
                   "glue.endpoint": server.endpoint,
                   "glue.access-key-id": "k",
                   "glue.secret-access-key": "s"}))
        cat.create_namespace("db")
        assert cat.list_namespaces() == [("db",)]
    finally:
        server.stop()
    with _pytest.raises(C.ConfigError, match="AWS config"):
        C.resolve_catalog(C.CatalogConfig(
            catalog_type="glue",
            extra={"glue.session-token": "token-without-keys"}))


def test_resolve_glue_catalog_id_both_spellings(tmp_path):
    """The no-client registrar path honors BOTH 'glue.id' (reference
    spelling) and 'catalog-id' (this config format's spelling, which
    the injected-client branch accepts) — round-8 review finding."""
    import pytest as _pytest
    _pytest.importorskip("boto3")
    from tests.support.glue_local import LocalGlueWireServer
    import iceberg_go_spark.config as C
    server = LocalGlueWireServer().start()
    try:
        base = {"glue.region": "us-east-1",
                "glue.endpoint": server.endpoint,
                "glue.access-key-id": "k",
                "glue.secret-access-key": "s"}
        c1 = C.resolve_catalog(C.CatalogConfig(
            catalog_type="glue", warehouse=str(tmp_path / "a"),
            extra={**base, "glue.id": "123456789012"}))
        assert c1.catalog_id == "123456789012"
        c2 = C.resolve_catalog(C.CatalogConfig(
            catalog_type="glue", warehouse=str(tmp_path / "b"),
            extra={**base, "catalog-id": "210987654321"}))
        assert c2.catalog_id == "210987654321"
    finally:
        server.stop()
