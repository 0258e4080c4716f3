"""Configuration with the reference's 3-level precedence:
CLI > environment > properties file (README.md:7-8, app.py:151-198).

The reference reads Java-style ``.properties`` files through a fake
section header (fakesectionhead.py:2-8); ``load_properties`` does the
same with ``configparser``.  Env lookup uses upper-cased dotted keys
(``cassandra.fetch_size`` → ``CASSANDRA_FETCH_SIZE``), matching the
reference's env mapping (app.py:174-186).
"""

from __future__ import annotations

import configparser
import io
import os
from typing import Any


def load_properties(path_or_text: str, is_text: bool = False) -> dict[str, str]:
    """Parse a sectionless Java-style properties file."""
    if is_text:
        text = path_or_text
    else:
        with open(path_or_text, encoding="utf-8") as f:
            text = f.read()
    # RawConfigParser: Java-style properties have no %-interpolation
    # (a literal '%' in a value must survive — found by hypothesis)
    parser = configparser.RawConfigParser()
    parser.optionxform = str  # preserve key case
    parser.read_file(io.StringIO("[top]\n" + text))
    return dict(parser.items("top"))


def env_key(key: str) -> str:
    return key.replace(".", "_").replace("-", "_").upper()


def resolve(
    key: str,
    cli_args: dict[str, Any] | None = None,
    properties: dict[str, str] | None = None,
    default: Any = None,
    cast=None,
) -> Any:
    """One config value with CLI > env > properties > default."""
    value: Any = None
    if cli_args and cli_args.get(key) is not None:
        value = cli_args[key]
    elif env_key(key) in os.environ:
        value = os.environ[env_key(key)]
    elif properties and key in properties:
        value = properties[key]
    else:
        value = default
    # env/properties deliver strings; CLI values arrive already typed.
    # Apply any cast callable to strings (a plain `cast(value)` on an
    # already-typed CLI value would double-convert or throw).
    if value is not None and cast is not None and isinstance(value, str):
        value = cast(value)
    return value


def load_table_properties(
    global_props: dict[str, str],
    table: str,
    properties_dir: str | None = None,
) -> dict[str, str]:
    """Per-table overlay (reference app.py:365-540): a
    ``{dir}/{table}.properties`` file, when present, overrides the
    global properties for that table's extraction; global keys under
    the dedicated ``tables.{table}.`` namespace also overlay (the
    namespace avoids colliding with dotted config keys — a table named
    'solr' must not capture 'solr.filter')."""
    merged = dict(global_props)
    prefix = f"tables.{table}."
    for k, v in global_props.items():
        if k.startswith(prefix):
            merged[k[len(prefix):]] = v
    if properties_dir:
        path = os.path.join(properties_dir, f"{table}.properties")
        if os.path.exists(path):
            merged.update(load_properties(path))
    return merged
