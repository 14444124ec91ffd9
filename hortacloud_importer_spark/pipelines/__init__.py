"""End-to-end pipeline compositions (the reference's main programs)."""

from hortacloud_importer_spark.pipelines.octree import (  # noqa: F401
    build_octree,
    optimal_nlevels,
)
from hortacloud_importer_spark.pipelines.crop import (  # noqa: F401
    crop_chunk_store,
    crop_octree,
)
from hortacloud_importer_spark.pipelines.ktx import (  # noqa: F401
    tiff_octree_to_ktx,
)
