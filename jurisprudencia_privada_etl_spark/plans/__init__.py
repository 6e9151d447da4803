"""Plans: lake sink, checkpoint manifest, and the epoch replay orchestrator."""

from jurisprudencia_privada_etl_spark.plans.sink import HadoopParquetSink  # noqa: F401
from jurisprudencia_privada_etl_spark.plans.replay import open_sink, replay, process_epoch  # noqa: F401
