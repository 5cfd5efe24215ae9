"""Every Spark conf key that sketchlib, the ``__spark_entry__.py`` driver or a
``scripts/*.py`` tool names as a string literal must exist:
setting a key Spark does not know is a silent no-op.  A key exists if
``spark.conf.isModifiable`` accepts it or it is a known static key, which
only takes effect at session start."""

import ast
import pathlib
import re

import sketchlib

STATIC_KEYS = {"spark.rdd.compress", "spark.driver.memory", "spark.ui.enabled",
               "spark.ui.showConsoleProgress"}
_KEY = re.compile(r"spark(\.[A-Za-z0-9_]+)+")


def _conf_key_literals() -> dict[str, str]:
    """key -> first ``file:line`` in the scanned sources that spells it."""
    root = pathlib.Path(sketchlib.__file__).parent.parent
    paths = [*sorted((root / "sketchlib").rglob("*.py")),
             root / "__spark_entry__.py", *sorted((root / "scripts").glob("*.py"))]
    keys: dict[str, str] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and _KEY.fullmatch(node.value)):
                keys.setdefault(node.value,
                                f"{path.relative_to(root)}:{node.lineno}")
    return keys


def test_every_conf_key_literal_exists(spark):
    keys = _conf_key_literals()
    # the scan reaches session.py and the scripts
    assert {"spark.sql.shuffle.partitions", "spark.ui.enabled"} <= set(keys)
    unknown = {k: where for k, where in keys.items()
               if k not in STATIC_KEYS and not spark.conf.isModifiable(k)}
    assert not unknown, f"not a modifiable or known static Spark key: {unknown}"
    # a static key is listed only while Spark refuses to modify it
    assert not any(spark.conf.isModifiable(k) for k in STATIC_KEYS)
