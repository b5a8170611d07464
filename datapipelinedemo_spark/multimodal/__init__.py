"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata
struct; per-item compute (decode, resize, feature-extract,
frame-sample) runs in Arrow-batched ``mapInPandas`` so Python touches
columnar batches, never rows. Format + dimension extraction is REAL
(``parse_image_header`` byte-walks PNG IHDR / JPEG SOFn / GIF / BMP
headers — zero codec deps, r16); there is no PIXEL decoder (it would
need PIL/ffmpeg), so ``extract_features`` computes deterministic fake
features — the Spark-side contract (schema, batching, partitioning) is
real and tested either way.
"""

from datapipelinedemo_spark.multimodal.media import (  # noqa: F401
    MEDIA_SCHEMA,
    attach_fake_media,
    attach_synthetic_image_headers,
    attach_synthetic_media_containers,
    extract_features,
    image_dimensions,
    media_container_info,
    parse_image_header,
    parse_media_container,
)
