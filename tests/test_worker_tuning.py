"""The executor-side importlib throttle (repo-root sitecustomize.py).

pyspark's worker calls importlib.invalidate_caches() per task (~0.2 s
here: it re-reads the SPARK_HOME zip directories); the sitecustomize
shim rate-limits it, gated on SPT_WORKER_IMPORTLIB_THROTTLE so nothing
changes for ordinary interpreters. These tests pin the gate logic and
the throttle behavior in subprocesses (clean import state)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, extra_env: dict) -> str:
    env = {**os.environ, **extra_env}
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_throttle_patches_and_rate_limits():
    script = (
        "import importlib, sitecustomize\n"
        "assert importlib.invalidate_caches.__name__ == "
        "'_throttled_invalidate_caches'\n"
        "calls = []\n"
        "sitecustomize._orig = lambda: calls.append(1)\n"
        "importlib.invalidate_caches()\n"
        "importlib.invalidate_caches()\n"
        "importlib.invalidate_caches()\n"
        "print(len(calls))\n"
    )
    # interval 3600 s: the first call invalidates, the rest are skipped
    assert _run(script, {"SPT_WORKER_IMPORTLIB_THROTTLE": "3600"}) == "1"


def test_gate_off_is_a_noop():
    script = (
        "import os\n"
        "os.environ.pop('SPT_WORKER_IMPORTLIB_THROTTLE', None)\n"
        "import importlib, sitecustomize\n"
        "print(importlib.invalidate_caches.__name__)\n"
    )
    env = {k: v for k, v in os.environ.items()
           if k != "SPT_WORKER_IMPORTLIB_THROTTLE"}
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env,
        capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "invalidate_caches"


def test_session_ships_gate_to_executors():
    from spatialindex_spark.plans import session as S
    import inspect

    src = inspect.getsource(S.get_session)
    assert "spark.executorEnv.SPT_WORKER_IMPORTLIB_THROTTLE" in src


def test_chains_to_shadowed_sitecustomize(tmp_path):
    """The repo's sitecustomize must not hide a virtualenv/system one: the
    next sitecustomize on sys.path still runs — once, even when a second
    copy of the repo file (another checkout) sits between them on the
    path, and the second copy does not patch importlib again."""
    import shutil

    copy = tmp_path / "checkout"
    copy.mkdir()
    shutil.copy(os.path.join(REPO, "sitecustomize.py"), copy)
    user = tmp_path / "user"
    user.mkdir()
    (user / "sitecustomize.py").write_text(
        "import os\n"
        "os.environ['SPT_TEST_CHAINED'] = "
        "os.environ.get('SPT_TEST_CHAINED', '') + 'x'\n")
    script = ("import importlib, os, sitecustomize\n"
              "print(os.environ.get('SPT_TEST_CHAINED'),\n"
              "      sitecustomize._orig.__name__)\n")
    for path in ([user], [copy, user]):
        env = {"PYTHONPATH": os.pathsep.join(map(str, path)),
               "SPT_WORKER_IMPORTLIB_THROTTLE": "3600"}
        assert _run(script, env) == "x invalidate_caches"
