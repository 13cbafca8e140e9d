from nightcrawler_ds_pipeline_spark.streaming.catalog_sink import (
    catalog_stream_writer,
    committed_stream_batch_max,
)
from nightcrawler_ds_pipeline_spark.streaming.frontier import (
    run_streaming_frontier,
)
from nightcrawler_ds_pipeline_spark.streaming.image_ingest import (
    streaming_image_ingest,
)
from nightcrawler_ds_pipeline_spark.streaming.join_streams import (
    join_fetch_extract_streams,
)
from nightcrawler_ds_pipeline_spark.streaming.politeness_stream import (
    streaming_token_bucket_dequeue,
)
from nightcrawler_ds_pipeline_spark.streaming.seen_stream import (
    streaming_seen_filter,
)

__all__ = [
    "catalog_stream_writer",
    "committed_stream_batch_max",
    "join_fetch_extract_streams",
    "run_streaming_frontier",
    "streaming_image_ingest",
    "streaming_seen_filter",
    "streaming_token_bucket_dequeue",
]
