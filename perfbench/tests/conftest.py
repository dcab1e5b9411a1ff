import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from cloud_ocr_summarizer_spark.session import get_spark

    yield get_spark(
        app_name="perfbench-tests",
        cores=2,
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
