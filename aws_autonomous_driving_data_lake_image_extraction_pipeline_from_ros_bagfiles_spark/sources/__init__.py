"""Sources: the ROS bag reader (``format("rosbag")``), sinks and topic views."""
