"""Every ``from towhee_spark... import name`` in the scripts outside the
package (the driver entry, the bench and tools/) names something that
exists. The scripts import lazily inside functions, so a renamed or
deleted operator only fails when that one code path runs. No Spark
session is needed: the names are checked on the imported modules."""
import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
           *sorted((ROOT / "tools").glob("*.py"))]


def _package_imports(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == "towhee_spark":
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "towhee_spark":
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(path):
    missing = []
    for line, module, name in _package_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{path.name}:{line} {module} ({e})")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{path.name}:{line} {module}.{name}")
    assert not missing, missing
