from skewer_spark.operators.parse import parse_transcripts  # noqa: F401
from skewer_spark.operators.enrich import enrich, with_uid  # noqa: F401
from skewer_spark.operators.route import route  # noqa: F401
