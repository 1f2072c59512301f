import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from htmlparser_spark.pipeline import cds, job  # noqa: E402


@pytest.fixture(scope="session", autouse=True)
def class_archive_cache(tmp_path_factory):
    """No test reads or writes the user's class-archive cache
    (pipeline/cds.py): the run, and every interpreter it starts, sees a
    cache dir under tmp. This process takes that cache's dump claim and
    holds it to exit without dumping, and its own sessions start without
    the archive, so no session of the run dumps (4-8 s in its start)
    or maps: each starts as with no archive. Tests of the archive itself
    give each case a cache dir of its own."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(tmp_path_factory.mktemp("cache")))
        cds.plan(os.environ, True)
        mp.setattr(job, "_ARCHIVE", cds.Launch())
        yield
