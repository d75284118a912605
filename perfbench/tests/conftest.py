import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# Python workers import the LLM stand-in from perfbench.gen
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import workloads

    s = workloads.session(str(tmp_path_factory.mktemp("spark")), cores=2)
    yield s
    s.stop()
