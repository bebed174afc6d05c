"""Scripts outside the package must not import package names that no
longer exist: every ``from pyramidscheme_jl_spark... import name`` in
``tools/*.py``, ``bench.py``, ``bench_extra.py`` and the oracle driver
``__spark_entry__.py`` (whose query bodies import function-locally) has
to resolve."""

import ast
import importlib
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_script_package_imports_resolve():
    scripts = sorted(ROOT.glob("tools/*.py")) + [
        ROOT / n for n in ("bench.py", "bench_extra.py", "__spark_entry__.py")
    ]
    missing = []
    for path in scripts:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "pyramidscheme_jl_spark"
            ):
                continue
            where = f"{path.relative_to(ROOT)}:{node.lineno}"
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                missing.append(f"{where}: {node.module} ({e})")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                try:  # a submodule not yet imported by the package
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(f"{where}: {node.module}.{alias.name}")
    assert len(scripts) > 2 and not missing, missing


def test_scripts_import_the_package_from_their_own_checkout():
    """A script that puts a fixed absolute path on ``sys.path`` imports the
    package from that checkout, not from its own tree, so a copy kept for
    an A/B run would measure or check the wrong code."""
    scripts = sorted(ROOT.glob("tools/*.py")) + [
        ROOT / n for n in ("bench.py", "bench_extra.py")
    ]
    pinned = [
        str(p.relative_to(ROOT)) for p in scripts
        if re.search(r"sys\.path\.insert\(\s*0\s*,\s*[\"']/", p.read_text())
    ]
    assert not pinned, pinned
